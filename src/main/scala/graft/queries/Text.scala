package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Text-analysis operators over `documents` (LLM-pipeline component #4):
  * token statistics, quality scoring, language identification, document
  * fingerprinting, and a per-language rollup. Everything is built-in
  * functions and higher-order functions — no UDFs, so the whole per-row
  * path stays inside whole-stage codegen and is trivially 100 TB-safe
  * (map-side work; the only shuffles are the final tiny aggregations).
  *
  * Ratios divide exact integers in double math, so Spark and DuckDB agree
  * bit-for-bit; hashing is md5 (identical in both engines).
  */
object Text extends QueryModule {

  // wide: every tx entry is per-row string compute (tokenize / regex /
  // hash) where a single-row-group scan serializes the whole pipeline to
  // one task — exactly the case Tables.wide's scaladoc names (the r8
  // driver sweep measured tx1/tx2/tx15 at 9–13× the spread recording)
  private def t(s: SparkSession, dir: String, n: String) = Tables.wide(s, dir, n)

  private def words: Column = split(col("text"), " ")

  // ---------------------------------------------------------------- tx1
  // Per-document token statistics: counts, type-token ratio, mean token
  // length — the basic profile row every curation pipeline starts from.
  private def tokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("w", words)
      .select(
        col("doc_id"),
        col("lang"),
        col("n_chars"),
        size(col("w")).as("n_tokens"),
        size(array_distinct(col("w"))).as("n_types"),
        (size(array_distinct(col("w"))).cast(DoubleType) / size(col("w")).cast(DoubleType))
          .as("type_token_ratio"),
        (aggregate(transform(col("w"), x => length(x)), lit(0), (a, x) => a + x).cast(DoubleType) /
          size(col("w")).cast(DoubleType)).as("mean_token_len"),
        // BPE-ish subword segmentation count: letter runs, digit runs,
        // punctuation runs with optional leading space — the regex family
        // GPT-style tokenizers pre-split with
        expr("size(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+', 0))")
          .as("n_tokens_bpe"))
      .orderBy(col("doc_id").asc_nulls_first)

  private val tokenStatsSql =
    """SELECT doc_id, lang, n_chars,
      |  len(w) AS n_tokens,
      |  len(list_distinct(w)) AS n_types,
      |  CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS type_token_ratio,
      |  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS mean_token_len,
      |  len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+', 0)) AS n_tokens_bpe
      |FROM (SELECT doc_id, lang, n_chars, text, string_split(text, ' ') AS w FROM documents)
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- tx2
  // Quality score: bounded mix of length, lexical diversity, token shape,
  // and stopword load; `keep` is the filter decision a curation pipeline
  // would apply. Weights are fixed; all inputs are exact ints.
  private[queries] val stopwords = Seq("a", "the", "data", "key", "row", "value")

  /** The quality formula, shared with the composed curation pipeline
    * (Dedup.cur1) so the two can never drift. `w` is the token array.
    */
  private[queries] def stopwordRatio(w: Column): Column =
    size(filter(w, x => x.isin(stopwords: _*))).cast(DoubleType) / size(w).cast(DoubleType)

  private[queries] def qualityScore(w: Column): Column = {
    val nTok = size(w).cast(DoubleType)
    val ttr = size(array_distinct(w)).cast(DoubleType) / nTok
    val meanLen =
      aggregate(transform(w, x => length(x)), lit(0), (a, x) => a + x).cast(DoubleType) / nTok
    lit(0.3) * least(lit(1.0), nTok / 100.0) +
      lit(0.3) * ttr +
      lit(0.2) * least(lit(1.0), meanLen / 8.0) +
      lit(0.2) * (lit(1.0) - stopwordRatio(w))
  }

  /** DuckDB spelling of qualityScore over a list column named `w`. */
  private[queries] val qualityScoreSql: String = {
    val sw = stopwords.map("'" + _ + "'").mkString(", ")
    s"""0.3 * least(1.0, CAST(len(w) AS DOUBLE) / 100.0) +
       |    0.3 * (CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)) +
       |    0.2 * least(1.0, (CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) /
       |                      CAST(len(w) AS DOUBLE)) / 8.0) +
       |    0.2 * (1.0 - CAST(len(list_filter(w, x -> x IN ($sw))) AS DOUBLE) /
       |                 CAST(len(w) AS DOUBLE))""".stripMargin
  }

  private def quality(s: SparkSession, dir: String): DataFrame = {
    val score = qualityScore(col("w"))
    val stopRatio = stopwordRatio(col("w"))
    t(s, dir, "documents")
      .withColumn("w", words)
      .select(
        col("doc_id"),
        stopRatio.as("stopword_ratio"),
        score.as("quality_score"),
        (score >= 0.5).as("keep"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val qualitySql = {
    val sw = stopwords.map("'" + _ + "'").mkString(", ")
    s"""SELECT doc_id, stopword_ratio, quality_score, quality_score >= 0.5 AS keep
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(list_filter(w, x -> x IN ($sw))) AS DOUBLE) / CAST(len(w) AS DOUBLE)
       |      AS stopword_ratio,
       |    $qualityScoreSql
       |      AS quality_score
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
       |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------- tx23
  /** Quality-filter CALIBRATION — the table a pretraining team builds
    * before committing to a threshold: per quality DECILE, how many
    * documents sit there, how many tokens they carry, how many are
    * exact duplicates, and how many languages they span — i.e. what a
    * cut at 0.5 actually removes. The decile is NOT floor(10·float):
    * tx2's score is a sum of rationals with denominators {1000, 10n,
    * 40n, 5n}, so score = I/(5000·n) for the integer
    * I = 15n·min(100,n) + 1500·types + 125·min(8n,Σlen) + 1000·(n−stop),
    * and the decile is the INTEGER division (10·I) div (5000·n) —
    * bit-exact in both engines where floor-of-float could flip on a
    * boundary ulp (the c7/money-lesson applied to scores). Duplicate
    * mass joins in through the dd1-shaped md5 census.
    *
    * Scale posture: one corpus scan computes I map-side; the census is
    * a digest-keyed partial agg + equi-join (the exact-dedup exchange);
    * the calibration rollup is a 10-row aggregate. Nothing float-keyed,
    * nothing corpus-broadcast.
    *
    * The synthetic corpus has zero exact duplicates, so a dup cohort is
    * PLANTED (tx15 convention, %17 docs re-keyed verbatim at +3M) —
    * without it the census join is vacuous and the n_dup_docs column
    * proves nothing.
    */
  private def qualityCalibration(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select("doc_id", "lang", "text")
    val d = base.unionByName(
      base.filter(col("doc_id") % 17 === 0)
        .select(Tables.plantedId(col("doc_id")).as("doc_id"),
          col("lang"), col("text")))
      .withColumn("w", words)
      .withColumn("n", size(col("w")).cast(LongType))
      .withColumn("types", size(array_distinct(col("w"))).cast(LongType))
      .withColumn("sumlen",
        aggregate(transform(col("w"), x => length(x)), lit(0), (a, x) => a + x)
          .cast(LongType))
      .withColumn("stop",
        size(filter(col("w"), x => x.isin(stopwords: _*))).cast(LongType))
      .withColumn("i",
        lit(15L) * col("n") * least(lit(100L), col("n")) +
          lit(1500L) * col("types") +
          lit(125L) * least(lit(8L) * col("n"), col("sumlen")) +
          lit(1000L) * (col("n") - col("stop")))
      .withColumn("decile",
        least(expr("(10 * i) DIV (5000 * n)"), lit(9L)))
      .withColumn("h", md5(col("text").cast("binary")))
    val census = d.groupBy("h").agg(count(lit(1)).as("n_same"))
    d.join(census, Seq("h"))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n")).as("sum_tokens"),
        sum(when(col("n_same") > 1L, 1L).otherwise(0L)).as("n_dup_docs"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("decile").asc_nulls_first)
  }

  private val qualityCalibrationSql = {
    val sw = stopwords.map("'" + _ + "'").mkString(", ")
    s"""WITH src AS (
       |  SELECT doc_id, lang, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000, lang, text FROM documents WHERE doc_id % 17 = 0),
       |d AS (
       |  SELECT doc_id, lang, text,
       |    CAST(len(w) AS BIGINT) AS n,
       |    CAST(len(list_distinct(w)) AS BIGINT) AS types,
       |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sumlen,
       |    CAST(len(list_filter(w, x -> x IN ($sw))) AS BIGINT) AS stop
       |  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM src)),
       |scored AS (
       |  SELECT *,
       |    15 * n * least(100, n) + 1500 * types +
       |      125 * least(8 * n, sumlen) + 1000 * (n - stop) AS i
       |  FROM d),
       |b AS (
       |  SELECT least((10 * i) // (5000 * n), 9) AS decile, n, lang,
       |    md5(text) AS h
       |  FROM scored),
       |census AS (SELECT h, COUNT(*) AS n_same FROM b GROUP BY h)
       |SELECT b.decile, COUNT(*) AS n_docs,
       |  CAST(SUM(b.n) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(CASE WHEN census.n_same > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |  CAST(COUNT(DISTINCT b.lang) AS BIGINT) AS n_langs
       |FROM b JOIN census USING (h)
       |GROUP BY b.decile
       |ORDER BY b.decile NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------- tx24
  /** OCR-ARTIFACT scoring — the cleanup signal for scanned-document
    * corpora (books, PDFs): OCR damage shows up as HYPHEN-BROKEN words
    * ("exam- ple", a line-wrap hyphen the text join kept) and
    * LETTER-SPACED runs ("t h e", per-glyph segmentation), neither of
    * which tx2's stopword/length mix or tx12's repetition census sees.
    * Per doc: hyphen-break count (a `[a-z]+- [a-z]+` census), single-
    * letter word count, its per-mille share (integer-exact, the tx23
    * discipline), and the suspect verdict (any break, or ≥10%
    * single-letter mass). The synthetic corpus is clean, so both
    * artifact shapes are PLANTED (tx15 convention: %9=0 docs re-keyed
    * at +3M with a hyphen-broken tail, %9=3 at +3M with a
    * letter-spaced tail) — and clean documents passing as non-suspect
    * is half of what the hash proves.
    *
    * Scale posture: pure map-side regex/array work over the corpus
    * scan, no shuffle before the gate sort — the tx1/tx2 slot.
    */
  private def ocrArtifacts(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select("doc_id", "text")
    val corpus = base
      .unionByName(base.filter(col("doc_id") % 9 === 0)
        .select(Tables.plantedId(col("doc_id")).as("doc_id"),
          concat(col("text"), lit(" scan- ner frag- ment")).as("text")))
      .unionByName(base.filter(col("doc_id") % 9 === 3)
        .select(Tables.plantedId(col("doc_id")).as("doc_id"),
          concat(col("text"), lit(" t h e s c a n")).as("text")))
    corpus
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-z]+- [a-z]+', 0)"))
          .cast(LongType).as("n_hyphen_breaks"),
        size(filter(col("w"), x => length(x) === 1)).cast(LongType)
          .as("n_single_letters"),
        size(col("w")).cast(LongType).as("n_words"))
      .withColumn("single_milli",
        expr("(1000 * n_single_letters) DIV n_words"))
      .withColumn("suspect",
        col("n_hyphen_breaks") > 0L || col("single_milli") >= 100L)
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val ocrArtifactsSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000, text || ' scan- ner frag- ment'
      |  FROM documents WHERE doc_id % 9 = 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, text || ' t h e s c a n'
      |  FROM documents WHERE doc_id % 9 = 3),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[a-z]+- [a-z]+', 0)) AS BIGINT)
      |      AS n_hyphen_breaks,
      |    CAST(len(list_filter(string_split(text, ' '), x -> length(x) = 1))
      |      AS BIGINT) AS n_single_letters,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      |  FROM corpus)
      |SELECT doc_id, n_hyphen_breaks, n_single_letters, n_words,
      |  (1000 * n_single_letters) // n_words AS single_milli,
      |  n_hyphen_breaks > 0 OR (1000 * n_single_letters) // n_words >= 100
      |    AS suspect
      |FROM sig ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- tx3
  // Language-ID heuristic: overlap of the document's word set against
  // fixed per-language profile vocabularies, argmax with a deterministic
  // priority-ordered CASE. (A real deployment swaps in learned n-gram
  // profiles — the plan shape is identical.)
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "data", "table"),
    "de" -> Seq("der", "die", "und", "von", "daten"),
    "es" -> Seq("el", "la", "de", "y", "datos"),
    "fr" -> Seq("le", "la", "de", "et", "donnees"))

  private def langId(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .withColumn("ws", array_distinct(words))
    val scored = profiles.foldLeft(base) { case (df, (l, prof)) =>
      df.withColumn(s"s_$l", size(array_intersect(col("ws"), array(prof.map(lit): _*))))
    }
    val Seq(en, de, es, fr) = profiles.map(p => col(s"s_${p._1}"))
    scored
      .select(
        col("doc_id"),
        col("lang"),
        when(en >= de && en >= es && en >= fr, "en")
          .when(de >= es && de >= fr, "de")
          .when(es >= fr, "es")
          .otherwise("fr").as("pred_lang"),
        en.as("s_en"), de.as("s_de"), es.as("s_es"), fr.as("s_fr"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val langIdSql = {
    def prof(l: String) =
      s"len(list_intersect(ws, [${profiles.toMap.apply(l).map("'" + _ + "'").mkString(", ")}]))"
    s"""SELECT doc_id, lang,
       |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS pred_lang,
       |  s_en, s_de, s_es, s_fr
       |FROM (
       |  SELECT doc_id, lang,
       |    ${prof("en")} AS s_en, ${prof("de")} AS s_de,
       |    ${prof("es")} AS s_es, ${prof("fr")} AS s_fr
       |  FROM (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ws FROM documents))
       |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------- tx4
  // Document fingerprint: a min-4 sketch — the 4 lexicographically
  // smallest md5s of the word-trigram shingles, re-hashed into one id.
  // Robust to local edits (winnowing-style), cheap to compare at scale.
  private def fingerprint(s: SparkSession, dir: String): DataFrame =
    Dedup.shingled(t(s, dir, "documents").select("doc_id", "text"))
      .select(
        col("doc_id"),
        md5(array_join(
          slice(array_sort(transform(col("shingles"), x => md5(x))), 1, 4), ""))
          .as("fingerprint"))
      .orderBy(col("doc_id").asc_nulls_first)

  private val fingerprintSql =
    """SELECT doc_id,
      |  md5(array_to_string(list_sort(list_transform(shingles, x -> md5(x)))[1:4], ''))
      |    AS fingerprint
      |FROM (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(w) - 1),
      |      i -> array_to_string(w[i:i+2], ' '))) AS shingles
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 3)
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- tx5
  // Per-language rollup: the corpus-census aggregation (docs, tokens,
  // chars, distinct sources) — partial agg + one tiny exchange.
  private def langStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("w", words)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("w")).cast(LongType)).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang").asc_nulls_first)

  private val langStatsSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  COUNT(DISTINCT source) AS n_sources
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- tx6
  // Per-language top-10 bigram table (vocabulary census): explode →
  // group → windowed rank, ties broken lexicographically. The group
  // exchange carries only (lang, bigram, count); the rank window runs
  // over the tiny aggregated frame, not the corpus.
  private def topBigrams(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = t(s, dir, "documents")
      .withColumn("w", words)
      .filter(size(col("w")) >= 2)
      .select(col("lang"), explode(
        transform(
          sequence(lit(1), size(col("w")) - 1),
          i => array_join(slice(col("w"), i, lit(2)), " "))).as("bigram"))
      .groupBy("lang", "bigram")
      .agg(count(lit(1)).as("n"))
    val rank = row_number().over(
      Window.partitionBy("lang").orderBy(col("n").desc, col("bigram").asc))
    counts.withColumn("rank", rank)
      .filter(col("rank") <= 10)
      .orderBy(col("lang").asc_nulls_first, col("rank").asc_nulls_first)
  }

  private val topBigramsSql =
    """WITH counts AS (
      |  SELECT lang, bigram, COUNT(*) AS n FROM (
      |    SELECT lang,
      |      unnest(list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))) AS bigram
      |    FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)
      |    WHERE len(w) >= 2)
      |  GROUP BY lang, bigram)
      |SELECT lang, bigram, n, rank FROM (
      |  SELECT lang, bigram, n,
      |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram ASC) AS rank
      |  FROM counts)
      |WHERE rank <= 10
      |ORDER BY lang NULLS FIRST, rank NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- tx7
  // HLL census (VERDICT r02 missing #4): tx5's exact countDistinct
  // shuffles every distinct (group, value) pair — at 100 TB the distinct
  // sets themselves are the exchange. approx_count_distinct carries a
  // constant-size HyperLogLog++ sketch per group through the map-side
  // combine instead, the standard corpus-census operator at scale.
  //
  // HLL estimates are engine-specific, so like q06 the entry verifies
  // the sketch INSIDE the gate (VERDICT r05 #4): outputs are the exact
  // distinct counts (DuckDB-twinned) plus a boolean per sketch asserting
  // |estimate − exact| ≤ max(5, 15% of exact) — 3× the default 5% rsd,
  // so TRUE by construction, and the oracle states literal TRUE: a
  // sketch regression breaks the hash instead of hiding behind a
  // rows-only check. The exact side exists only as the in-gate bound;
  // the 100 TB census runs the sketch alone (tx5 is the exact-path
  // entry). TextCensusSpec still pins the tighter observed error.
  private def langStatsApprox(s: SparkSession, dir: String): DataFrame = {
    def ok(approx: Column, exact: Column) =
      abs(approx - exact) <= greatest(lit(5L), (exact * 15) / lit(100))
    t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"),
        countDistinct(col("source")).as("n_sources"),
        approx_count_distinct(md5(col("text"))).as("ad_texts"),
        approx_count_distinct(col("source")).as("ad_sources"))
      .select(
        col("lang"), col("n_docs"), col("n_distinct_texts"), col("n_sources"),
        ok(col("ad_texts"), col("n_distinct_texts")).as("texts_ok"),
        ok(col("ad_sources"), col("n_sources")).as("sources_ok"))
      .orderBy(col("lang").asc_nulls_first)
  }

  private val langStatsApproxSql =
    """SELECT lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      |  TRUE AS texts_ok, TRUE AS sources_ok
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- tx8
  /** Context-window chunking — the step that turns curated documents
    * into training sequences: split each document's word stream into
    * windows of 64 tokens with stride 48 (16-token overlap so no
    * boundary context is lost). Pure map-side generate (sequence →
    * posexplode → slice): each row expands to ~len/stride chunks with
    * no shuffle until the gate sort; a tail window that would sit
    * wholly inside the previous one is suppressed (it would emit a
    * pure duplicate training sequence); chunk identity is the md5 of
    * the chunk text, so downstream dedup/packing can key on it without
    * re-reading the payload.
    */
  // package-visible so specs derive their geometry bounds from the SAME
  // constants the operators use (no silently-stale mirrored literals)
  private[graft] val ChunkLen = 64
  private[graft] val ChunkStride = 48

  /** (doc_id, chunk_id, n_tokens, chunk_hash) without the gate sort —
    * shared by tx8 (the chunk table) and tx9 (sequence packing).
    */
  private def chunkFrame(s: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    // a start beyond n − (len − stride) would open a window wholly
    // contained in the previous one — a pure duplicate sequence, the
    // thing the dedup stages upstream exist to remove — so the start
    // grid stops there (floor 1 keeps single-chunk docs)
    val lastStart = greatest(lit(1), size(col("w")) - (ChunkLen - ChunkStride))
    t(s, dir, "documents")
      .withColumn("w", w)
      .select(col("doc_id"),
        posexplode(sequence(lit(1), lastStart, lit(ChunkStride))).as(Seq("chunk_id", "cs")),
        col("w"))
      .select(
        col("doc_id"),
        col("chunk_id").cast(LongType).as("chunk_id"),
        size(slice(col("w"), col("cs"), lit(ChunkLen))).cast(LongType).as("n_tokens"),
        md5(array_join(slice(col("w"), col("cs"), lit(ChunkLen)), " ")).as("chunk_hash"))
  }

  private def chunk(s: SparkSession, dir: String): DataFrame =
    chunkFrame(s, dir)
      .orderBy(col("doc_id").asc_nulls_first, col("chunk_id").asc_nulls_first)

  /** The oracle twin of [[chunkFrame]], as CTEs ending in `ch`. */
  private val chunkCtes =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |s AS (SELECT doc_id, w,
       |        range(1, greatest(len(w) - ${ChunkLen - ChunkStride}, 1) + 1, $ChunkStride)
       |          AS starts FROM w),
       |ex AS (SELECT doc_id, w, generate_subscripts(starts, 1) - 1 AS chunk_id,
       |              unnest(starts) AS cs FROM s),
       |ch AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |         CAST(len(w[cs:cs+${ChunkLen - 1}]) AS BIGINT) AS n_tokens,
       |         md5(array_to_string(w[cs:cs+${ChunkLen - 1}], ' ')) AS chunk_hash
       |       FROM ex)""".stripMargin

  private val chunkSql =
    s"""WITH $chunkCtes
       |SELECT doc_id, chunk_id, n_tokens, chunk_hash FROM ch
       |ORDER BY doc_id NULLS FIRST, chunk_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- tx9
  /** Sequence packing — the step after chunking that fills fixed
    * 2048-token training bins. Greedy packing is inherently sequential,
    * so the scalable formulation packs WITHIN hash buckets: chunks are
    * bucketed by their hash's first hex char (16 independent streams —
    * at corpus scale, thousands), each bucket is totally ordered by
    * (chunk_hash, doc_id, chunk_id), and a running token sum assigns
    * each chunk to the bin where its stream offset lands (next-fit:
    * bins overflow by at most one chunk, < 64 tokens on 2048). One
    * shuffle on bucket; the window sort is per-bucket, never global.
    * Output is the per-bin manifest a trainer consumes.
    */
  private[graft] val PackCapacity = 2048L

  private def pack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("bucket")
      .orderBy(col("chunk_hash").asc_nulls_first, col("doc_id").asc_nulls_first,
        col("chunk_id").asc_nulls_first)
    chunkFrame(s, dir)
      .withColumn("bucket", substring(col("chunk_hash"), 1, 1))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("bin_id", expr(s"(cum - n_tokens) div $PackCapacity"))
      .groupBy("bucket", "bin_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("n_tokens").as("n_tokens_packed"),
        countDistinct("doc_id").as("n_docs"))
      .orderBy(col("bucket").asc_nulls_first, col("bin_id").asc_nulls_first)
  }

  private val packSql =
    s"""WITH $chunkCtes,
       |b AS (SELECT *, substr(chunk_hash, 1, 1) AS bucket FROM ch),
       |c AS (SELECT bucket, doc_id, n_tokens,
       |        SUM(n_tokens) OVER (PARTITION BY bucket
       |          ORDER BY chunk_hash NULLS FIRST, doc_id NULLS FIRST,
       |                   chunk_id NULLS FIRST) AS cum
       |      FROM b)
       |SELECT bucket, CAST((cum - n_tokens) // $PackCapacity AS BIGINT) AS bin_id,
       |  COUNT(*) AS n_chunks, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_packed,
       |  COUNT(DISTINCT doc_id) AS n_docs
       |FROM c GROUP BY 1, 2
       |ORDER BY bucket NULLS FIRST, bin_id NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- tx10
  /** TF-IDF keyword extraction: the top-3 most distinctive terms per
    * document. tf comes from one explode+aggregate pass; df is a second
    * aggregate OVER THE tf FRAME (one row per (doc, term) already — no
    * second corpus scan), vocabulary-sized, so the tf⋈df join broadcasts.
    * The per-doc rank window partitions on doc_id with bounded group
    * size (a document's distinct terms), which scales with documents,
    * not corpus bytes.
    *
    * Scoring: floor(1e6·tf/df) — a monotone integer surrogate for
    * tf·idf that both engines compute bit-identically (one cast-mul-div
    * chain on exact integers). log-idf orders terms identically for
    * fixed tf (log is monotone); the classic tf·log(N/df) formula is a
    * one-line swap but libm log is not cross-engine bit-stable, so the
    * gate pins the rational form. Ties (same score) break on the term.
    */
  private val TfIdfTopK = 3

  private def tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
      // tf feeds the df aggregate AND the join probe: one computed frame
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_ppm").desc_nulls_first, col("term").asc_nulls_first)
    tf.join(broadcast(df), Seq("term"))
      .withColumn("score_ppm",
        floor(col("tf").cast(DoubleType) * 1000000.0 / col("df").cast(DoubleType))
          .cast(LongType))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= TfIdfTopK)
      .select("doc_id", "rnk", "term", "tf", "df", "score_ppm")
      .orderBy(col("doc_id").asc_nulls_first, col("rnk").asc_nulls_first)
  }

  private val tfidfSql =
    s"""WITH tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, lower(unnest(string_split(text, ' '))) AS term
       |        FROM documents)
       |  WHERE term != '' GROUP BY doc_id, term),
       |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    CAST(floor(CAST(tf.tf AS DOUBLE) * 1000000.0 / CAST(df.df AS DOUBLE))
       |         AS BIGINT) AS score_ppm
       |  FROM tf JOIN df USING (term)),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score_ppm DESC NULLS FIRST, term NULLS FIRST) AS rnk
       |  FROM scored)
       |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df, score_ppm
       |FROM ranked WHERE rnk <= $TfIdfTopK
       |ORDER BY doc_id NULLS FIRST, rnk NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- tx11
  /** Zipf coverage curve — the vocabulary-design census: top-[[ZipfTopK]]
    * corpus terms with rank and the cumulative fraction of all corpus
    * tokens they cover (the curve a tokenizer team reads to size a
    * vocabulary). One explode+aggregate compresses the corpus to a
    * vocabulary-sized frame; the top-K terms then come from a
    * distributed TakeOrdered (orderBy.limit — partial top-K per
    * partition, K rows to one task), so the rank/cumulative window runs
    * over a BOUNDED K-row frame (r9's spelling ranked the ENTIRE
    * vocabulary through an unpartitioned window before filtering to K —
    * at 100 TB that is a single-task sort of millions of terms for a
    * 30-row answer; the r10 tx13 lesson). The total-token denominator
    * is a plain 1-row aggregate broadcast in. Coverage is floor-ppm on
    * exact integers — bit-identical in both engines (the tx10
    * rationale); the cumulative sum over ranks ≤ K needs only the top-K
    * counts, so the truncation is lossless for this output.
    */
  private val ZipfTopK = 30

  private def zipfCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = t(s, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term")
      .agg(count(lit(1)).as("n"))
    val order = Window.orderBy(col("n").desc_nulls_first, col("term").asc_nulls_first)
    val tot = tf.agg(sum(col("n")).as("total"))
    tf.orderBy(col("n").desc_nulls_first, col("term").asc_nulls_first)
      .limit(ZipfTopK) // TakeOrdered: no global sort
      .withColumn("rank", row_number().over(order).cast(LongType))
      .withColumn("cum", sum(col("n")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(tot))
      .select(
        col("rank"), col("term"), col("n"),
        floor(col("cum").cast(DoubleType) * 1000000.0 / col("total").cast(DoubleType))
          .cast(LongType).as("coverage_ppm"))
      .orderBy(col("rank").asc_nulls_first)
  }

  private val zipfCoverageSql =
    s"""WITH tf AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT lower(unnest(string_split(text, ' '))) AS term FROM documents)
       |  WHERE term != '' GROUP BY term),
       |ranked AS (
       |  SELECT term, n,
       |    row_number() OVER (ORDER BY n DESC NULLS FIRST, term NULLS FIRST) AS rank,
       |    SUM(n) OVER (ORDER BY n DESC NULLS FIRST, term NULLS FIRST
       |                 ROWS UNBOUNDED PRECEDING) AS cum,
       |    SUM(n) OVER () AS total
       |  FROM tf)
       |SELECT CAST(rank AS BIGINT) AS rank, term, n,
       |  CAST(floor(CAST(cum AS DOUBLE) * 1000000.0 / CAST(total AS DOUBLE)) AS BIGINT)
       |    AS coverage_ppm
       |FROM ranked WHERE rank <= $ZipfTopK
       |ORDER BY rank NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- tx12
  /** Repetition signals (the Gopher/MassiveText quality battery): per
    * document, the fraction of tokens taken by the single most frequent
    * token, and the duplicate fractions among bigrams and trigrams —
    * high values mark boilerplate/keyword-stuffed pages a curation
    * pipeline drops. Entirely map-side: the top-token count is a
    * run-length scan over the SORTED token array (one `aggregate` HOF
    * with struct state — no per-document explode+groupBy, so nothing
    * but the gate sort shuffles), and the n-gram duplicate counts are
    * `size − size(array_distinct)` on arrays built in place. Fractions
    * are floor-ppm on exact integers (cross-engine bit-stable).
    */
  private[graft] val RepTopTokenMaxPpm = 200000L // Gopher-style keep thresholds
  private[graft] val RepDupBigramMaxPpm = 400000L

  /** Longest run in the sorted token array = the max token multiplicity
    * — one `aggregate` HOF with struct state, no explode. Shared by tx12
    * and the composed curation pass (cur2) so the signal can't drift.
    */
  private[queries] def topTokenCount(w: Column): Column =
    aggregate(
      array_sort(w),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  private[queries] def topTokenPpm(w: Column): Column =
    floor(topTokenCount(w).cast(DoubleType) * 1000000.0 / size(w).cast(DoubleType))
      .cast(LongType)

  private[queries] def ngramsOf(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => array_join(slice(w, i, lit(n)), " ")))
      .otherwise(typedLit(Seq.empty[String]))

  private[queries] def dupNgramPpm(g: Column): Column =
    when(size(g) > 0,
      floor((size(g) - size(array_distinct(g))).cast(DoubleType) * 1000000.0 /
        size(g).cast(DoubleType)).cast(LongType)).otherwise(lit(0L))

  private def repetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("w", words)
      .withColumn("bg", ngramsOf(col("w"), 2))
      .withColumn("tg", ngramsOf(col("w"), 3))
      .select(
        col("doc_id"),
        topTokenPpm(col("w")).as("top_token_ppm"),
        dupNgramPpm(col("bg")).as("dup_bigram_ppm"),
        dupNgramPpm(col("tg")).as("dup_trigram_ppm"))
      .withColumn("keep",
        col("top_token_ppm") <= RepTopTokenMaxPpm &&
          col("dup_bigram_ppm") <= RepDupBigramMaxPpm)
      .orderBy(col("doc_id").asc_nulls_first)

  // The oracle spells the top-token count as unnest+GROUP BY+MAX — a
  // different (set-oriented) formulation of the same quantity, which is
  // the point of a differential oracle.
  private val repetitionSql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |tc AS (SELECT doc_id, tk, COUNT(*) AS n
       |       FROM (SELECT doc_id, unnest(w) AS tk FROM w) GROUP BY doc_id, tk),
       |top AS (SELECT doc_id, MAX(n) AS topn, CAST(SUM(n) AS BIGINT) AS ntok
       |        FROM tc GROUP BY doc_id),
       |gr AS (
       |  SELECT doc_id,
       |    CASE WHEN len(w) >= 2 THEN
       |      list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
       |      ELSE [] END AS bg,
       |    CASE WHEN len(w) >= 3 THEN
       |      list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
       |      ELSE [] END AS tg
       |  FROM w),
       |ppm AS (
       |  SELECT t.doc_id,
       |    CAST(floor(CAST(t.topn AS DOUBLE) * 1000000.0 / CAST(t.ntok AS DOUBLE))
       |         AS BIGINT) AS top_token_ppm,
       |    CASE WHEN len(g.bg) > 0 THEN
       |      CAST(floor(CAST(len(g.bg) - len(list_distinct(g.bg)) AS DOUBLE) * 1000000.0 /
       |                 CAST(len(g.bg) AS DOUBLE)) AS BIGINT) ELSE 0 END AS dup_bigram_ppm,
       |    CASE WHEN len(g.tg) > 0 THEN
       |      CAST(floor(CAST(len(g.tg) - len(list_distinct(g.tg)) AS DOUBLE) * 1000000.0 /
       |                 CAST(len(g.tg) AS DOUBLE)) AS BIGINT) ELSE 0 END AS dup_trigram_ppm
       |  FROM top t JOIN gr g USING (doc_id))
       |SELECT doc_id, top_token_ppm, dup_bigram_ppm, dup_trigram_ppm,
       |  top_token_ppm <= $RepTopTokenMaxPpm AND dup_bigram_ppm <= $RepDupBigramMaxPpm
       |    AS keep
       |FROM ppm ORDER BY doc_id NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- red1
  /** PII redaction pass — the masking step a pipeline runs before any
    * text leaves curation: count and replace email addresses and phone
    * numbers with typed placeholder tokens, and emit a per-row `clean`
    * proof (no pattern survives its own redaction). The fixture corpus
    * is synthetic word-salad with no organic PII, so the entry first
    * plants one deterministic email + phone per row (derived from
    * doc_id/source) — the REDACTOR is the operator under test, and the
    * planted rows prove it fires on every row rather than vacuously
    * matching nothing. Pure per-row regexp work (codegen'd
    * `RegExpReplace`/`RegExpExtractAll`) — zero shuffles before the gate
    * sort; patterns are RE2-compatible so both engines execute the same
    * automaton.
    */
  private[graft] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
  private[graft] val PhoneRe = "\\+1-555-[0-9][0-9][0-9][0-9]"

  private def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(
      col("text"), lit(" contact user"), col("doc_id").cast(StringType), lit("@"),
      col("source"), lit(".example.com or +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast(StringType), 4, "0"))
    t(s, dir, "documents")
      .withColumn("raw", planted)
      .withColumn("red",
        regexp_replace(regexp_replace(col("raw"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))
      .select(
        col("doc_id"),
        // Column-API regexp_extract_all, NOT expr(): a SQL-text round
        // trip would run the pattern through Spark's string-literal
        // escape processing and silently strip the backslashes
        size(regexp_extract_all(col("raw"), lit(EmailRe), lit(0))).cast(LongType)
          .as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(PhoneRe), lit(0))).cast(LongType)
          .as("n_phones"),
        md5(col("red")).as("red_hash"),
        (!col("red").rlike(EmailRe) && !col("red").rlike(PhoneRe)).as("clean"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val piiRedactSql =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' || source ||
       |      '.example.com or +1-555-' ||
       |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
       |  FROM documents),
       |red AS (
       |  SELECT doc_id, raw,
       |    regexp_replace(regexp_replace(raw, '$EmailRe', '<EMAIL>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g') AS red
       |  FROM base)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(raw, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  md5(red) AS red_hash,
       |  NOT regexp_matches(red, '$EmailRe') AND NOT regexp_matches(red, '$PhoneRe')
       |    AS clean
       |FROM red ORDER BY doc_id NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- red2
  /** Checksum-validated numeric PII (payment-card shapes) — red1's
    * regexp can mask what a PATTERN matches, but card redaction that
    * masks every 13-19-digit run wholesale also destroys order ids and
    * trace numbers; the production control is Luhn validation BEFORE
    * masking. That decision (checksum over the matched span) is
    * inexpressible in regexp_replace, so this entry runs the codegen
    * [[org.apache.spark.sql.graft.LuhnScan]] kernel: one byte pass that
    * finds maximal digit runs, counts candidates in [13,19], validates
    * each, and masks only valid ones. The corpus has zero organic
    * digits, so the entry plants per row: a short run (below min), two
    * 16-digit candidates with data-dependent validity (fixed 15-digit
    * prefixes from doc_id with fixed check digits — ≈1 in 10 of each
    * passes Luhn), and a 20-digit run (above max). The oracle knows the
    * plant layout, so it can state validity as closed-form fixed-width
    * Luhn arithmetic — but the kernel sees only the raw string: the
    * candidate count proves both length guards, and the masked-text
    * hash proves masking fired exactly on the Luhn-valid spans.
    * Per-row map work, zero shuffles before the gate sort.
    */
  private def luhnAudit(s: SparkSession, dir: String): DataFrame = {
    val Mod = 1000000000000000L // 10^15: the 15-digit candidate prefix space
    def planted(mult: Long, check: String): Column =
      concat(lpad(pmod(col("doc_id") * mult, lit(Mod)).cast(StringType), 15, "0"),
        lit(check))
    val raw = concat(
      col("text"), lit(" id "), pmod(col("doc_id"), lit(10000L)).cast(StringType),
      lit(" card "), planted(7919L, "0"),
      lit(" ref "), planted(104729L, "7"),
      lit(" trace "), lpad(pmod(col("doc_id"), lit(100000L)).cast(StringType), 20, "0"))
    t(s, dir, "documents")
      .withColumn("raw", raw)
      .withColumn("scan",
        graft.functions.VectorFunctions.luhnScan(col("raw"), 13, 19, "<CARD>"))
      .select(
        col("doc_id"),
        col("scan.candidates").cast(LongType).as("n_candidates"),
        col("scan.valid").cast(LongType).as("n_valid"),
        md5(col("scan.masked")).as("masked_hash"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  /** Fixed-width (16-digit) Luhn validity as closed-form SQL over a
    * VARCHAR column `p`: odd 1-based positions double (they sit at odd
    * offsets from the rightmost check digit), 9 subtracted from
    * two-digit products, valid iff the sum is ≡ 0 (mod 10).
    */
  private def luhn16Sql(p: String): String = {
    val terms = (1 to 16).map { i =>
      val d = s"CAST(substr($p, $i, 1) AS INT)"
      if (i % 2 == 1) s"(CASE WHEN 2 * $d > 9 THEN 2 * $d - 9 ELSE 2 * $d END)" else d
    }
    s"((${terms.mkString(" + ")}) % 10 = 0)"
  }

  private val luhnAuditSql =
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    lpad(CAST((doc_id * 7919) % 1000000000000000 AS VARCHAR), 15, '0') || '0' AS p1,
       |    lpad(CAST((doc_id * 104729) % 1000000000000000 AS VARCHAR), 15, '0') || '7' AS p2
       |  FROM documents),
       |v AS (
       |  SELECT doc_id, text, p1, p2,
       |    ${luhn16Sql("p1")} AS v1, ${luhn16Sql("p2")} AS v2
       |  FROM base)
       |SELECT doc_id,
       |  CAST(2 AS BIGINT) AS n_candidates,
       |  CAST((CASE WHEN v1 THEN 1 ELSE 0 END) + (CASE WHEN v2 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_valid,
       |  md5(text || ' id ' || CAST(doc_id % 10000 AS VARCHAR) ||
       |      ' card ' || (CASE WHEN v1 THEN '<CARD>' ELSE p1 END) ||
       |      ' ref ' || (CASE WHEN v2 THEN '<CARD>' ELSE p2 END) ||
       |      ' trace ' || lpad(CAST(doc_id % 100000 AS VARCHAR), 20, '0'))
       |    AS masked_hash
       |FROM v ORDER BY doc_id NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- cur2
  /** The round-6 composed curation pass — quality gate ∧ repetition gate
    * ∧ weight-proportional sampling, reported as a per-language funnel
    * census (docs in → quality-kept → repetition-kept → both → sampled,
    * plus the sampled token mass). Every stage reuses the EXACT shared
    * expression its standalone entry uses ([[qualityScore]],
    * [[topTokenPpm]]/[[dupNgramPpm]], the ds3 hex-threshold gate with
    * its own tag), so this entry pins that the operators COMPOSE without
    * drift: one map-side pass per document, one tiny per-language
    * aggregate, no intermediate materialization.
    */
  private def curationV2(s: SparkSession, dir: String): DataFrame = {
    val keepQ = qualityScore(col("w")) >= 0.5
    val keepRep = topTokenPpm(col("w")) <= RepTopTokenMaxPpm &&
      dupNgramPpm(ngramsOf(col("w"), 2)) <= RepDupBigramMaxPpm
    val sampGate = Sampling.weightGate(col("doc_id"), col("n_chars"), "cur2:")
    def n(c: Column) = sum(when(c, 1L).otherwise(0L))
    t(s, dir, "documents")
      .withColumn("w", words)
      .withColumn("keep_q", keepQ)
      .withColumn("keep_rep", keepRep)
      .withColumn("sampled", col("keep_q") && col("keep_rep") && sampGate)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        n(col("keep_q")).as("n_keep_quality"),
        n(col("keep_rep")).as("n_keep_repetition"),
        n(col("keep_q") && col("keep_rep")).as("n_pass_both"),
        n(col("sampled")).as("n_sampled"),
        sum(when(col("sampled"), size(col("w")).cast(LongType)).otherwise(0L))
          .as("tokens_sampled"))
      .orderBy(col("lang").asc_nulls_first)
  }

  private val curationV2Sql =
    s"""WITH base AS (
       |  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS w FROM documents),
       |tc AS (SELECT doc_id, tk, COUNT(*) AS n
       |       FROM (SELECT doc_id, unnest(w) AS tk FROM base) GROUP BY doc_id, tk),
       |top AS (SELECT doc_id, MAX(n) AS topn, CAST(SUM(n) AS BIGINT) AS ntok
       |        FROM tc GROUP BY doc_id),
       |flags AS (
       |  SELECT b.lang, len(b.w) AS ntok_w,
       |    ($qualityScoreSql) >= 0.5 AS keep_q,
       |    CAST(floor(CAST(t.topn AS DOUBLE) * 1000000.0 / CAST(t.ntok AS DOUBLE))
       |         AS BIGINT) <= $RepTopTokenMaxPpm
       |    AND (CASE WHEN len(b.w) >= 2 THEN
       |      CAST(floor(CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) * 1000000.0 /
       |                 CAST(len(bg) AS DOUBLE)) AS BIGINT) ELSE 0 END)
       |        <= $RepDupBigramMaxPpm AS keep_rep,
       |    ${Sampling.weightGateSql("b.doc_id", "b.n_chars", "cur2:")} AS samp_gate
       |  FROM (SELECT *,
       |          CASE WHEN len(w) >= 2 THEN
       |            list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
       |          ELSE [] END AS bg
       |        FROM base) b
       |  JOIN top t ON b.doc_id = t.doc_id)
       |SELECT lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN keep_q THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_quality,
       |  CAST(SUM(CASE WHEN keep_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_repetition,
       |  CAST(SUM(CASE WHEN keep_q AND keep_rep THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pass_both,
       |  CAST(SUM(CASE WHEN keep_q AND keep_rep AND samp_gate THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_sampled,
       |  CAST(SUM(CASE WHEN keep_q AND keep_rep AND samp_gate THEN ntok_w ELSE 0 END)
       |       AS BIGINT) AS tokens_sampled
       |FROM flags
       |GROUP BY lang
       |ORDER BY lang NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- tx13
  /** Corpus-rank rarity score — the corpus-statistics quality filter the
    * per-document batteries (tx2 heuristics, tx12 repetition) can't
    * express: score each document by the mean frequency-rank of its
    * tokens in the corpus vocabulary (rank 1 = most common), and flag
    * documents whose mean rank sits above the corpus average — rare-
    * token-heavy documents (OCR noise, codes, gibberish) score high and
    * are dropped by the keep flag. This is the integer-exact surrogate
    * for a unigram-LM perplexity filter: log-probabilities are NOT
    * bit-stable cross-engine (libm ln differs), frequency ranks are.
    *
    * Two corpus passes by necessity (the statistic IS corpus-global):
    * build the ranked vocabulary, broadcast it into the token stream,
    * one (doc)-grain aggregate, then the corpus-average threshold
    * attached as a broadcast 1-row aggregate. The vocabulary is
    * truncated to the TOP-K ranks with an out-of-vocab tail bucket
    * (rank = K+1) — r9's spelling ranked the ENTIRE vocabulary through
    * an unpartitioned row_number window (a single-task global sort of
    * every distinct term: the real 100 TB ceiling, worse than the
    * broadcast it fed). Top-K by frequency plans as TakeOrdered —
    * distributed partial top-K per partition, K rows to one task —
    * and the window then ranks a BOUNDED K-row frame. K = 65536 far
    * exceeds every test vocabulary, so the tail bucket is exercised
    * only by genuinely unbounded corpora — exactly the regime it
    * exists for; rare tail terms all scoring K+1 only sharpens the
    * rare-token-heavy flag this filter computes.
    */
  private val RarityVocabK = 65536L

  private def rarityScore(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = t(s, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc_nulls_first, col("term").asc_nulls_first)
      .limit(RarityVocabK.toInt) // TakeOrdered: no global sort
      .withColumn("trank", row_number().over(
        Window.orderBy(col("n").desc_nulls_first, col("term").asc_nulls_first))
        .cast(LongType))
      .select("term", "trank")
    val perDoc = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
      .join(broadcast(vocab), Seq("term"), "left")
      .withColumn("trank", coalesce(col("trank"), lit(RarityVocabK + 1L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("trank")).as("rank_sum"))
      .withColumn("mean_rank_x1000", expr("(rank_sum * 1000) DIV n_tokens"))
      // referenced twice (threshold aggregate + final projection): persist,
      // or the whole tokenize+vocab+join pipeline plans under both branches
      // (the q15 convention; harness sweeps the cache between entries)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // floor-integer average (DIV) — a double-divide-then-cast would hit
    // the Spark-truncates / DuckDB-rounds divergence
    val thr = perDoc.agg(sum(col("mean_rank_x1000")).as("s"), count(lit(1)).as("c"))
      .select(expr("s DIV c").as("avg_rank"))
    perDoc.join(broadcast(thr))
      .select(
        col("doc_id"), col("n_tokens"), col("mean_rank_x1000"),
        (col("mean_rank_x1000") <= col("avg_rank")).as("keep"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val rarityScoreSql =
    s"""WITH vocab AS (
      |  SELECT term, row_number() OVER (ORDER BY n DESC NULLS FIRST,
      |    term NULLS FIRST) AS trank
      |  FROM (
      |    SELECT term, COUNT(*) AS n
      |    FROM (SELECT lower(unnest(string_split(text, ' '))) AS term FROM documents)
      |    WHERE term != '' GROUP BY term
      |    ORDER BY n DESC NULLS FIRST, term NULLS FIRST
      |    LIMIT $RarityVocabK)),
      |toks AS (
      |  SELECT doc_id, lower(unnest(string_split(text, ' '))) AS term FROM documents),
      |perdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |    CAST(SUM(COALESCE(trank, ${RarityVocabK + 1L})) * 1000 // COUNT(*) AS BIGINT)
      |      AS mean_rank_x1000
      |  FROM toks LEFT JOIN vocab USING (term)
      |  WHERE term != ''
      |  GROUP BY doc_id),
      |thr AS (SELECT CAST(SUM(mean_rank_x1000) // COUNT(*) AS BIGINT) AS avg_rank
      |        FROM perdoc)
      |SELECT doc_id, n_tokens, mean_rank_x1000,
      |  mean_rank_x1000 <= avg_rank AS keep
      |FROM perdoc, thr
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- tx14
  /** Bigram-LM familiarity — the perplexity-filter proxy: score each
    * document by how common its word-bigrams are in the corpus itself
    * (a 2-gram language model's numerator, no external model needed).
    * Two signals per doc: the mean corpus frequency of its bigrams
    * (`familiarity_milli`, ×1000 — low = the doc's phrasing is unlike
    * the corpus) and the fraction of its bigrams that are corpus-hapax
    * (`hapax_ppm` — high = mostly never-repeated word contexts, the
    * gibberish/boilerplate-free tail a perplexity filter trims from
    * both ends). tx13 scores TOKEN rarity against a vocabulary; this is
    * the CONTEXT-level sibling, and the pair brackets what a real KenLM
    * pass measures. Integer outputs via the big-sum DIV convention.
    *
    * Scale posture: the corpus bigram table is too big to broadcast and
    * isn't — both the count build and the score join shuffle on the
    * bigram key (co-partitioned hash join), then one doc_id aggregate;
    * three exchanges total, all narrow (doc_id, bigram, n). At 100 TB
    * the counts side can be truncated to top-K + a tail bucket exactly
    * like tx13's vocabulary if the full table ever outgrows the join.
    */
  private def bigramFamiliarity(s: SparkSession, dir: String): DataFrame = {
    val bg = t(s, dir, "documents")
      .withColumn("w", words)
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(
        transform(
          sequence(lit(1), size(col("w")) - 1),
          i => array_join(slice(col("w"), i, lit(2)), " "))).as("bigram"))
    val counts = bg.groupBy("bigram").agg(count(lit(1)).as("n"))
    bg.join(counts, Seq("bigram"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        expr("CAST(CAST(sum(n) AS DECIMAL(38,0)) * 1000 DIV count(1) AS BIGINT)")
          .as("familiarity_milli"),
        expr("CAST(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DECIMAL(38,0)) * 1000000 DIV count(1) AS BIGINT)")
          .as("hapax_ppm"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val bigramFamiliaritySql =
    """WITH bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))) AS bigram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 2),
      |counts AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY bigram)
      |SELECT b.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(CAST(SUM(n) AS HUGEINT) * 1000 // COUNT(*) AS BIGINT) AS familiarity_milli,
      |  CAST(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT) AS hapax_ppm
      |FROM bg b JOIN counts c ON b.bigram = c.bigram
      |GROUP BY b.doc_id
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- tx19
  /** Conditional bigram-LM surprise — the KenLM-shaped half of the
    * perplexity-filter pair. tx14 scores the model's NUMERATOR (how
    * common each bigram is); a real LM filter scores the CONDITIONAL
    * p(w│h) = (c(h w) + 1) / (c(h·) + V), add-1 smoothed over the
    * corpus vocabulary, so a rare continuation of a COMMON history is
    * penalized where tx14's unconditional count would let the common
    * history mask it. The score is the integral surrogate of perplexity
    * this codebase's cross-engine discipline requires (Retrieval's
    * rational-surrogate precedent — bit-stable logs don't exist across
    * engines): per bigram, cost = ⌊1000 / p⌋ = (c(h·)+V)·1000 DIV
    * (c(hw)+1) — monotone in exactly the variable −log p is — and per
    * doc the arithmetic mean of costs (mean inverse probability; the
    * geometric mean IS perplexity, the arithmetic mean ranks the same
    * tails a CCNet-style filter trims). All-integer: both engines
    * truncate non-negative DIV identically, sums ride the DECIMAL/
    * HUGEINT convention, zero float anywhere.
    *
    * Scale posture: tx14's exactly — the c(hw) and c(h·) tables shuffle
    * on their keys (never broadcast; history counts are map-side
    * combined), the score join is co-partitioned on bigram, V is one
    * scalar distinct-count; at 100 TB the LM tables would be the
    * maintained top-K + tail-bucket form tx13 uses.
    */
  private def conditionalSurprise(s: SparkSession, dir: String): DataFrame = {
    val bg = t(s, dir, "documents")
      .withColumn("w", words)
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(
        transform(
          sequence(lit(1), size(col("w")) - 1),
          i => array_join(slice(col("w"), i, lit(2)), " "))).as("bigram"))
      .withColumn("h", substring_index(col("bigram"), " ", 1))
    val c2 = bg.groupBy("bigram").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("h").agg(count(lit(1)).as("c1"))
    val vocab = t(s, dir, "documents").withColumn("w", words)
      .select(explode(col("w")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    bg.join(c2, Seq("bigram")).join(c1, Seq("h")).crossJoin(broadcast(vocab))
      .withColumn("cost", expr("(c1 + v) * 1000 DIV (c2 + 1)"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        expr("CAST(CAST(sum(cost) AS DECIMAL(38,0)) DIV count(1) AS BIGINT)")
          .as("surprise_milli"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val conditionalSurpriseSql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))) AS bigram
      |  FROM d WHERE len(w) >= 2),
      |bgh AS (SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS h FROM bg),
      |c2 AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c2 FROM bgh GROUP BY bigram),
      |c1 AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS c1 FROM bgh GROUP BY h),
      |v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
      |      FROM (SELECT unnest(w) AS tok FROM d))
      |SELECT b.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(CAST(SUM((c1.c1 + v.v) * 1000 // (c2.c2 + 1)) AS HUGEINT) // COUNT(*) AS BIGINT)
      |    AS surprise_milli
      |FROM bgh b JOIN c2 ON b.bigram = c2.bigram JOIN c1 ON b.h = c1.h CROSS JOIN v
      |GROUP BY b.doc_id
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- tx20
  /** Character-diversity quality signal — the inverse-Simpson
    * "effective alphabet" per document, the rational surrogate of
    * character entropy (bit-stable logs don't exist across engines;
    * 1/Σpᵢ² ranks the same degenerate tails −Σp·ln p does): a document
    * whose cleaned text concentrates on a handful of characters
    * (keyboard mashing, padding runs, separator soup) scores a small
    * effective alphabet no word-level filter sees. All integer —
    * eff·1000 = n²·1000 DIV Σcᵢ² over per-character counts cᵢ of the
    * [a-z ]-sanitized lowercase text (ASCII-safe split on both
    * engines).
    *
    * Scale posture: the whole histogram is computed PER ROW inside one
    * higher-order-function chain (sort chars → run boundaries → Σlen²
    * — Catalyst-native array lambdas, interpreted inside the codegen
    * stage but never a UDF) — no explode, no (doc, char)-grain
    * shuffle, nothing but the deliberate wide-spread of the
    * unsplittable scan and the final sort; the DuckDB oracle executes the RELATIONAL
    * spelling (unnest → group by doc×char → Σk²), so the hash match
    * proves the per-row kernel equals the straightforward aggregation.
    */
  private def charDiversity(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .select(col("doc_id"),
        expr("""filter(split(regexp_replace(lower(text), '[^a-z ]', ''), ''),
                       c -> c != '')""").as("cs"))
      .filter(size(col("cs")) > 0)
      .select(col("doc_id"),
        expr("CAST(size(cs) AS BIGINT)").as("n_chars"),
        expr("array_sort(cs)").as("s"))
      // run boundaries of the sorted char array: positions where the
      // value changes; run lengths are adjacent boundary differences
      .select(col("doc_id"), col("n_chars"),
        expr("""filter(sequence(1, CAST(n_chars AS INT)),
                       i -> i = 1 OR element_at(s, i) != element_at(s, i - 1))""")
          .as("starts"))
      .select(col("doc_id"), col("n_chars"),
        expr("CAST(size(starts) AS BIGINT)").as("distinct_chars"),
        expr("""aggregate(
                  zip_with(starts,
                           concat(slice(starts, 2, size(starts) - 1),
                                  array(CAST(n_chars AS INT) + 1)),
                           (a, b) -> CAST(b - a AS BIGINT) * CAST(b - a AS BIGINT)),
                  0L, (acc, x) -> acc + x)""").as("s2"))
      .select(col("doc_id"), col("n_chars"), col("distinct_chars"),
        expr("n_chars * n_chars * 1000 DIV s2").as("eff_alpha_milli"),
        expr("n_chars * n_chars * 1000 DIV s2 < 5000").as("low_diversity"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val charDiversitySql =
    """WITH ch AS (
      |  SELECT doc_id, c
      |  FROM (SELECT doc_id,
      |          unnest(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), '')) AS c
      |        FROM documents)
      |  WHERE c <> ''),
      |h AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k FROM ch GROUP BY doc_id, c),
      |agg AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_chars,
      |          CAST(COUNT(*) AS BIGINT) AS distinct_chars,
      |          CAST(SUM(k * k) AS BIGINT) AS s2
      |        FROM h GROUP BY doc_id)
      |SELECT doc_id, n_chars, distinct_chars,
      |  CAST(n_chars * n_chars * 1000 // s2 AS BIGINT) AS eff_alpha_milli,
      |  n_chars * n_chars * 1000 // s2 < 5000 AS low_diversity
      |FROM agg
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- tx15
  /** Mixed-language (code-switching / concatenation) detection — the
    * quality gate tx3's whole-document argmax cannot express: a document
    * whose two HALVES identify as different languages is usually two
    * documents glued together (crawler frame pages, wiki dumps) and
    * poisons language-targeted training mixes. Each half runs tx3's
    * profile-overlap scorer (same `profiles`, no drift channel); a doc
    * is flagged when the halves' argmaxes disagree AND both halves carry
    * non-zero evidence. The gate corpus plants true positives: long
    * documents re-keyed at +3M with a German-profile tail appended
    * (the fixture's synthetic texts share one vocabulary across its
    * `lang` labels, so a genuine bilingual positive must be planted) —
    * the tail is derived from the SAME `profiles` constant the scorer
    * uses, so marker and detector cannot drift. Docs are filtered to
    * ≥30 words so the 15-word tail sits wholly inside the second half.
    * Pure per-row expression work — one scan, no shuffle but the sort.
    */
  private val mixedMarker: String =
    Seq.fill(3)(profiles.toMap.apply("de")).flatten.mkString(" ")

  private def mixedCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    val planted = d
      .filter(col("doc_id") % 3 === 0 && size(split(col("text"), " ")) >= 30)
      .select(Tables.plantedId(col("doc_id")).as("doc_id"),
        concat_ws(" ", col("text"), lit(mixedMarker)).as("text"))
    d.unionByName(planted)
  }

  private def mixedLang(s: SparkSession, dir: String): DataFrame = {
    val base = mixedCorpus(s, dir)
      .withColumn("w", words)
      .filter(size(col("w")) >= 2)
      .withColumn("ha", array_distinct(expr("slice(w, 1, size(w) DIV 2)")))
      .withColumn("hb", array_distinct(expr("slice(w, size(w) DIV 2 + 1, size(w) - size(w) DIV 2)")))
    val scored = profiles.foldLeft(base) { case (df, (l, prof)) =>
      df.withColumn(s"a_$l", size(array_intersect(col("ha"), array(prof.map(lit): _*))))
        .withColumn(s"b_$l", size(array_intersect(col("hb"), array(prof.map(lit): _*))))
    }
    def argmax(p: String) = {
      val Seq(en, de, es, fr) = profiles.map(x => col(s"${p}_${x._1}"))
      when(en >= de && en >= es && en >= fr, "en")
        .when(de >= es && de >= fr, "de")
        .when(es >= fr, "es")
        .otherwise("fr")
    }
    def ev(p: String) =
      greatest(profiles.map(x => col(s"${p}_${x._1}")): _*).cast(LongType)
    scored
      .select(col("doc_id"),
        argmax("a").as("pred_a"), argmax("b").as("pred_b"),
        ev("a").as("ev_a"), ev("b").as("ev_b"))
      .withColumn("mixed",
        col("pred_a") =!= col("pred_b") && col("ev_a") > 0 && col("ev_b") > 0)
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val mixedLangSql = {
    def prof(h: String, l: String) =
      s"len(list_intersect($h, [${profiles.toMap.apply(l).map("'" + _ + "'").mkString(", ")}]))"
    def scores(p: String, h: String) =
      profiles.map(x => s"${prof(h, x._1)} AS ${p}_${x._1}").mkString(",\n    ")
    def argmax(p: String) =
      s"""CASE WHEN ${p}_en >= ${p}_de AND ${p}_en >= ${p}_es AND ${p}_en >= ${p}_fr THEN 'en'
         |       WHEN ${p}_de >= ${p}_es AND ${p}_de >= ${p}_fr THEN 'de'
         |       WHEN ${p}_es >= ${p}_fr THEN 'es'
         |       ELSE 'fr' END""".stripMargin
    def ev(p: String) =
      s"CAST(greatest(${profiles.map(x => s"${p}_${x._1}").mkString(", ")}) AS BIGINT)"
    s"""WITH mx AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000, concat_ws(' ', text, '$mixedMarker')
       |  FROM documents
       |  WHERE doc_id % 3 = 0 AND len(string_split(text, ' ')) >= 30),
       |halves AS (
       |  SELECT doc_id,
       |    list_distinct(w[1 : len(w) // 2]) AS ha,
       |    list_distinct(w[len(w) // 2 + 1 : len(w)]) AS hb
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM mx)
       |  WHERE len(w) >= 2),
       |scored AS (
       |  SELECT doc_id,
       |    ${scores("a", "ha")},
       |    ${scores("b", "hb")}
       |  FROM halves)
       |SELECT doc_id,
       |  ${argmax("a")} AS pred_a,
       |  ${argmax("b")} AS pred_b,
       |  ${ev("a")} AS ev_a,
       |  ${ev("b")} AS ev_b,
       |  (${argmax("a")}) <> (${argmax("b")}) AND ${ev("a")} > 0 AND ${ev("b")} > 0 AS mixed
       |FROM scored
       |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------- tok1
  /** BPE merge INDUCTION — actual subword-tokenizer training, not just
    * BPE-style token counting (tx1's regex): learn the first
    * [[BpeMergeCount]] merge rules from corpus statistics, emitting one
    * row per learned merge (rank, pair, weighted occurrence count).
    * Algorithm = the standard word-frequency BPE trainer: compress the
    * corpus to a (word, count) VOCABULARY once, space-separate each word
    * into symbols, then per iteration (a) count adjacent symbol pairs
    * weighted by word count, (b) pick the most frequent pair (count
    * DESC, pair ASC — deterministic), (c) apply the merge to every
    * vocabulary entry and iterate on the result.
    *
    * Cross-engine technique: symbol sequences live as STRINGS with
    * DOUBLE-SPACE separators and single-space padding (" h  e  l  l  o ")
    * and a merge is literal `replace(syms, ' a  b ', ' ab ')`. The
    * separator doubling is load-bearing: the match consumes only the
    * FIRST space of each flanking pair, so consecutive occurrences of
    * the merge pair (" a  b  a  b ") each retain a leading space and
    * left-to-right non-overlapping replacement — identical semantics in
    * Spark and DuckDB — implements exactly greedy BPE application
    * ("abab" → [ab][ab]; a single-space encoding would under-merge to
    * [ab][a][b] because the first match eats the delimiter the second
    * needs). The oracle restates all [[BpeMergeCount]] iterations
    * CTE-for-CTE, so the gate hash-proves the whole training loop. Pair
    * extraction zips the symbol array against its own tail (zip_with
    * over slices — NOT sequence(1, n-1), which silently yields a
    * DESCENDING sequence for 1-symbol words).
    *
    * Scale posture (the real tokenizer-trainer plan): all iterations run
    * over the VOCABULARY, not the corpus — one corpus explode+groupBy
    * compresses to (word, count), after which every pass shuffles
    * vocabulary-grain pair rows (map-side combined) and broadcasts the
    * single winning pair into the merge projection. Each iteration
    * localCheckpoints its (syms, c) frame — the seq is referenced twice
    * per pass (pair count + merge apply), so un-truncated lineage would
    * double per iteration (the g2/dd7 lesson); frames are vocab-sized,
    * so the materialization is trivial. Like the graph gates, plan
    * CONSTRUCTION runs these small jobs.
    */
  /** Fixed merge horizon; assumes the corpus has ≥ this many learnable
    * pairs (any real corpus does — 5 ≪ the symbol-pair inventory). A
    * production trainer with a huge target vocabulary would add an
    * empty-top early-exit; at a fixed small N the check would never
    * fire, so it is omitted rather than dead-coded.
    */
  private val BpeMergeCount = 5

  private def bpeMerges(s: SparkSession, dir: String): DataFrame =
    trainedMerges(s, dir, evenOnly = false)
      .orderBy(col("merge_rank").asc_nulls_first)

  /** The trained merge-rules frame, memoized per (dir, split) via
    * [[graft.Scratch.shared]]: tok1 emits it, tok2 prices the corpus with
    * it, tok3 evaluates the even-split variant — and each retraining is
    * 5 chained vocabulary jobs (~1/3 of the tok trio's sweep cost,
    * VERDICT r10 perf). The trained rules are a 5-row frame — exactly
    * the materialized-view shape: train once per sweep, read everywhere.
    * Entries stay self-contained in MEANING (any consumer triggers the
    * training if it hasn't happened); only the redundant re-execution is
    * shared away.
    */
  private def trainedMerges(s: SparkSession, dir: String, evenOnly: Boolean): DataFrame =
    graft.Scratch.shared(s, if (evenOnly) "bpe_merges_even" else "bpe_merges_full", dir) {
      val docs = t(s, dir, "documents")
      bpeMergesOver(
        if (evenOnly) docs.filter(col("doc_id") % 2 === 0) else docs, BpeMergeCount)
    }

  /** The trainer over any frame with a `text` column — package-visible so
    * the spec can replay it on a hand-computable micro-corpus.
    *
    * Since r18 this is [[bpeMergesConverging]] at min frequency 1 (a
    * count filter `n >= 1` is an identity, so the fixed-N and the
    * converging trainer are the SAME algorithm — one spelling, no
    * drift), which also moves the fixed-N path onto the collect-winner
    * loop: the old spelling broadcast the winner frame per iteration
    * AND re-executed all N winner picks when the merges frame was
    * consumed, ~2 extra vocabulary-grain jobs per merge on a fresh JVM
    * (the r17 tok4 fork adjudication's cost class — the tok family's
    * fresh-JVM time is training-dominated). The winner is one row per
    * pass (the ann2-codebook class of driver data), so collecting it is
    * the scale posture, not a shortcut.
    */
  private[graft] def bpeMergesOver(docs: DataFrame, iters: Int): DataFrame =
    bpeMergesConverging(docs, iters, minFreq = 1L)

  /** The trainer's CTE chain (w, v, s0, p1..t1..s1, …) — shared verbatim
    * by the tok1 (emit merges), tok2 (apply merges), and tok3 (holdout
    * coverage, trains on a SPLIT via `src`) oracles so the spellings
    * cannot drift.
    */
  private def bpeTrainCtesOver(src: String): String = {
    def iter(i: Int): String =
      s"""p$i AS (
         |  SELECT u.pa AS pa, u.pb AS pb, SUM(c) AS n FROM (
         |    SELECT c, unnest(list_transform(range(1, len(sy)),
         |      j -> {'pa': sy[j], 'pb': sy[j + 1]})) AS u
         |    FROM (SELECT string_split(trim(syms), '  ') AS sy, c FROM s${i - 1}))
         |  GROUP BY u.pa, u.pb),
         |t$i AS (SELECT pa, pb, n FROM p$i ORDER BY n DESC, pa, pb LIMIT 1),
         |s$i AS (
         |  SELECT replace(syms, ' ' || t.pa || '  ' || t.pb || ' ',
         |                 ' ' || t.pa || t.pb || ' ') AS syms, c
         |  FROM s${i - 1}, t$i t)""".stripMargin
    val iters = (1 to BpeMergeCount).map(iter).mkString(",\n")
    s"""w AS (SELECT unnest(string_split(text, ' ')) AS w FROM $src),
       |v AS (SELECT w, COUNT(*) AS c FROM w
       |      WHERE regexp_matches(w, '^[a-z]+${"$"}') GROUP BY w),
       |s0 AS (SELECT ' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS syms, c
       |       FROM v),
       |$iters""".stripMargin
  }

  private val bpeTrainCtes = bpeTrainCtesOver("documents")

  private val bpeMergesSql = {
    val out = (1 to BpeMergeCount).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, pa, pb, CAST(n AS BIGINT) AS n_occurrences FROM t$i")
      .mkString("\nUNION ALL ")
    s"""WITH $bpeTrainCtes
       |$out
       |ORDER BY merge_rank NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------- tok2
  /** APPLY the learned BPE merges — the tokenizer's inference half:
    * re-train tok1's [[BpeMergeCount]] rules (self-contained entry, the
    * ann2-training posture), then segment every document's words by
    * replaying the merges IN LEARNED ORDER and report per-document
    * subword statistics (words, characters, subwords after merging) —
    * the token-budget table a pipeline prices corpora with.
    *
    * Scale posture: application is a corpus map-side pass — the five
    * merge rules pivot into ONE broadcast row and each word's
    * segmentation is a chain of five literal `replace`es (the same
    * double-space encoding as training, so greed semantics match
    * exactly); the only shuffle is the per-document count rollup
    * (map-side combinable). The oracle reuses the trainer's CTE chain
    * verbatim and replays the same nested replaces.
    */
  private def bpeApply(s: SparkSession, dir: String): DataFrame =
    bpeApplyBody(t(s, dir, "documents"),
      bpeRulesFrom(trainedMerges(s, dir, evenOnly = false), BpeMergeCount))

  /** Train on `docs` and pivot the learned rules into ONE broadcast row
    * plus the chained-replace SQL that applies them to a `syms` column —
    * shared by tok2 (whole-corpus segmentation) and tok3 (holdout
    * coverage, trained on a split).
    */
  private[graft] def bpeRules(docs: DataFrame, iters: Int): (DataFrame, String) =
    bpeRulesFrom(bpeMergesOver(docs, iters), iters)

  private[graft] def bpeRulesFrom(merges: DataFrame, iters: Int): (DataFrame, String) = {
    // pivot the 5 learned rules into ONE row so application is a single
    // broadcast crossJoin, not five
    val ruleCols = (1 to iters).flatMap(i => Seq(
      min(when(col("merge_rank") === i, col("pa"))).as(s"pa$i"),
      min(when(col("merge_rank") === i, col("pb"))).as(s"pb$i")))
    val onerow = merges.agg(ruleCols.head, ruleCols.tail: _*)
    val applied = (1 to iters).foldLeft("syms")((acc, i) =>
      s"replace($acc, ' ' || pa$i || '  ' || pb$i || ' ', ' ' || pa$i || pb$i || ' ')")
    (onerow, applied)
  }

  private[graft] def bpeApplyOver(docs: DataFrame, iters: Int): DataFrame =
    bpeApplyBody(docs, bpeRules(docs, iters))

  private def bpeApplyBody(docs: DataFrame, rules: (DataFrame, String)): DataFrame = {
    val (onerow, applied) = rules
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .withColumn("syms",
        concat(lit(" "), rtrim(regexp_replace(col("w"), "(.)", "$1  ")), lit(" ")))
      .crossJoin(broadcast(onerow))
      .select(col("doc_id"), col("w"),
        size(split(trim(expr(applied)), "  ")).cast(LongType).as("n_subwords_w"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast(LongType).as("n_chars_w"),
        sum(col("n_subwords_w")).as("n_subwords"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val bpeApplySql = {
    val merges = (1 to BpeMergeCount).flatMap(i => Seq(
      s"(SELECT pa FROM t$i) AS pa$i", s"(SELECT pb FROM t$i) AS pb$i")).mkString(", ")
    val applied = (1 to BpeMergeCount).foldLeft("syms")((acc, i) =>
      s"replace($acc, ' ' || pa$i || '  ' || pb$i || ' ', ' ' || pa$i || pb$i || ' ')")
    s"""WITH $bpeTrainCtes,
       |m AS (SELECT $merges),
       |dw AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |ap AS (
       |  SELECT doc_id, w,
       |    len(string_split(trim($applied), '  ')) AS n_subwords_w
       |  FROM (SELECT doc_id, w,
       |          ' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS syms
       |        FROM dw WHERE regexp_matches(w, '^[a-z]+${"$"}')), m)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(length(w)) AS BIGINT) AS n_chars_w,
       |  CAST(SUM(n_subwords_w) AS BIGINT) AS n_subwords
       |FROM ap GROUP BY doc_id
       |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------- tok6
  /** Tokenizer FERTILITY by language — the per-language equity metric a
    * tokenizer team reads before freezing a vocabulary: subwords per
    * word (fertility) and subwords per character tell you which
    * languages the learned merges under-serve (high fertility = more
    * sequence length per content = higher serving cost for that
    * language). Same trained rules and greedy application as tok2
    * (shared [[trainedMerges]] memo and chained-replace spelling — the
    * two entries cannot drift), rolled up at LANGUAGE grain with
    * integer-exact per-mille ratios ((1000·x) div y — the tx23
    * discipline; a float ratio could flip a ulp cross-engine). The
    * synthetic corpus shares one vocabulary across its lang labels, so
    * the per-lang CONTRAST is muted here — the operator, grain, and
    * arithmetic are what the gate proves; on real multilingual data
    * the same plan surfaces the 2–4× fertility gaps the metric exists
    * to catch.
    *
    * Scale posture: tok2's exactly — one corpus explode, the rules
    * broadcast as ONE row, map-side per-word pricing, then a
    * lang-grain (≤ a few hundred keys) partial agg. The added lang
    * column rides the existing scan; no new exchange beyond the tiny
    * rollup.
    */
  private def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    val (onerow, applied) = bpeRulesFrom(
      trainedMerges(s, dir, evenOnly = false), BpeMergeCount)
    t(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .withColumn("syms",
        concat(lit(" "), rtrim(regexp_replace(col("w"), "(.)", "$1  ")), lit(" ")))
      .crossJoin(broadcast(onerow))
      .select(col("lang"), length(col("w")).cast(LongType).as("len_w"),
        size(split(trim(expr(applied)), "  ")).cast(LongType).as("n_sub"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("len_w")).as("n_chars_w"),
        sum(col("n_sub")).as("n_subwords"))
      .withColumn("fertility_milli", expr("(1000 * n_subwords) DIV n_words"))
      .withColumn("compression_milli", expr("(1000 * n_subwords) DIV n_chars_w"))
      .orderBy(col("lang").asc_nulls_first)
  }

  private val bpeFertilitySql = {
    val merges = (1 to BpeMergeCount).flatMap(i => Seq(
      s"(SELECT pa FROM t$i) AS pa$i", s"(SELECT pb FROM t$i) AS pb$i")).mkString(", ")
    val applied = (1 to BpeMergeCount).foldLeft("syms")((acc, i) =>
      s"replace($acc, ' ' || pa$i || '  ' || pb$i || ' ', ' ' || pa$i || pb$i || ' ')")
    s"""WITH $bpeTrainCtes,
       |m AS (SELECT $merges),
       |dw AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
       |ap AS (
       |  SELECT lang, w,
       |    len(string_split(trim($applied), '  ')) AS n_sub
       |  FROM (SELECT lang, w,
       |          ' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS syms
       |        FROM dw WHERE regexp_matches(w, '^[a-z]+${"$"}')), m)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(length(w)) AS BIGINT) AS n_chars_w,
       |  CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
       |  (1000 * CAST(SUM(n_sub) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
       |    AS fertility_milli,
       |  (1000 * CAST(SUM(n_sub) AS BIGINT)) // CAST(SUM(length(w)) AS BIGINT)
       |    AS compression_milli
       |FROM ap GROUP BY lang
       |ORDER BY lang NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------- tok4
  /** BYTE-FALLBACK tokenization pricing — the words tok2 silently
    * drops (`^[a-z]+$` is the trained alphabet; numbers, punctuation
    * runs, mixed-case junk fall outside it) are exactly what a real
    * tokenizer must still encode. The production answer is byte
    * fallback (SentencePiece's `byte_fallback`, GPT-2's byte-level
    * base): an out-of-alphabet word encodes one token per UTF-8 BYTE —
    * so its token count is simply `octet_length(word)`, a per-row
    * expression both engines spell exactly. In-alphabet words price
    * through the learned merges (tok2's chained replace, same rules
    * frame). Per document: words on each path, BPE subwords, fallback
    * byte tokens, and the fallback share in milli — the honest
    * full-corpus token bill, where tok2's is the trained-alphabet
    * subset.
    *
    * Scale posture: tok2's exactly — training compresses to vocabulary
    * grain, application is one map-side chained replace + a per-word
    * byte length; the only corpus-grain shuffle is the per-doc rollup.
    */
  /** The planted fallback tail: digits, a hyphenated id and two-byte
    * non-ASCII chars — every shape the `^[a-z]+$` alphabet excludes,
    * appended to the %10 docs re-keyed at +3M (the tx15 planting
    * convention: the synthetic corpus is all-lowercase-alpha, so
    * genuine fallback positives must be planted or the path is
    * vacuous; both engines state the marker as the same literal).
    */
  private val fallbackMarker = " x9 42 c-3 ωμ"

  private def byteFallback(s: SparkSession, dir: String): DataFrame = {
    val (onerow, applied) = bpeRulesFrom(
      trainedMerges(s, dir, evenOnly = false), BpeMergeCount)
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = base.unionByName(
      base.filter(col("doc_id") % 10 === 0)
        .select(Tables.plantedId(col("doc_id")).as("doc_id"),
          concat(col("text"), lit(fallbackMarker)).as("text")))
    corpus
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("alpha", col("w").rlike("^[a-z]+$"))
      .withColumn("syms",
        concat(lit(" "), rtrim(regexp_replace(col("w"), "(.)", "$1  ")), lit(" ")))
      .crossJoin(broadcast(onerow))
      .select(col("doc_id"), col("alpha"),
        when(col("alpha"), size(split(trim(expr(applied)), "  ")).cast(LongType))
          .otherwise(lit(0L)).as("n_sub"),
        when(!col("alpha"), octet_length(col("w")).cast(LongType))
          .otherwise(lit(0L)).as("n_bytes"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(when(col("alpha"), 1L).otherwise(0L)).as("n_bpe_words"),
        sum(col("n_sub")).as("n_subwords"),
        sum(col("n_bytes")).as("n_fallback_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_words"),
        col("n_subwords"), col("n_fallback_tokens"),
        expr("""CASE WHEN n_subwords + n_fallback_tokens = 0 THEN 0
                ELSE (1000 * n_fallback_tokens) DIV (n_subwords + n_fallback_tokens)
                END""").as("fallback_milli"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val byteFallbackSql = {
    val merges = (1 to BpeMergeCount).flatMap(i => Seq(
      s"(SELECT pa FROM t$i) AS pa$i", s"(SELECT pb FROM t$i) AS pb$i")).mkString(", ")
    val applied = (1 to BpeMergeCount).foldLeft("syms")((acc, i) =>
      s"replace($acc, ' ' || pa$i || '  ' || pb$i || ' ', ' ' || pa$i || pb$i || ' ')")
    s"""WITH $bpeTrainCtes,
       |m AS (SELECT $merges),
       |corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000, text || ' x9 42 c-3 ωμ'
       |  FROM documents WHERE doc_id % 10 = 0),
       |dw AS (
       |  SELECT doc_id, w, regexp_matches(w, '^[a-z]+$$') AS alpha
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)
       |  WHERE length(w) > 0),
       |ap AS (
       |  SELECT doc_id, alpha,
       |    CASE WHEN alpha THEN len(string_split(trim(
       |      $applied), '  ')) ELSE 0 END AS n_sub,
       |    CASE WHEN NOT alpha THEN strlen(w) ELSE 0 END AS n_bytes
       |  FROM (SELECT doc_id, w, alpha,
       |          ' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS syms
       |        FROM dw), m)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(CASE WHEN alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_bpe_words,
       |  CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
       |  CAST(SUM(n_bytes) AS BIGINT) AS n_fallback_tokens,
       |  CAST(CASE WHEN SUM(n_sub) + SUM(n_bytes) = 0 THEN 0
       |       ELSE (1000 * SUM(n_bytes)) // (SUM(n_sub) + SUM(n_bytes)) END AS BIGINT)
       |    AS fallback_milli
       |FROM ap GROUP BY doc_id
       |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------- tok3
  /** Held-out vocabulary coverage — the tokenizer-evaluation step
    * between training (tok1) and pricing (tok2): train the merge rules
    * on the EVEN-doc_id half only, then measure on the odd half, per
    * language, how the learned vocabulary generalizes: holdout word /
    * char / subword counts, how many subword tokens used a learned
    * merge (`n_merged_subwords`), how many fell outside the train-side
    * subword inventory (`oov_subwords` — unseen symbols an encoder maps
    * to <unk>), and the compression rate in milli-chars per subword.
    *
    * Scale posture: training compresses to vocabulary grain (tok1);
    * the train-side subword INVENTORY is at most |alphabet| + iters
    * entries, so the OOV probe is a broadcast left join against a
    * constant-size frame; application remains a map-side chained
    * replace; the only corpus-grain shuffles are two per-lang rollups.
    * The deterministic doc_id-parity split is the ds6 convention —
    * partition-count independent, both engines state it identically.
    */
  private def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (onerow, applied) =
      bpeRulesFrom(trainedMerges(s, dir, evenOnly = true), BpeMergeCount)
    def segmented(df: DataFrame, extra: Column*): DataFrame = df
      .select(extra :+ explode(split(col("text"), " ")).as("w"): _*)
      .filter(col("w").rlike("^[a-z]+$"))
      .withColumn("syms",
        concat(lit(" "), rtrim(regexp_replace(col("w"), "(.)", "$1  ")), lit(" ")))
      .crossJoin(broadcast(onerow))
      .withColumn("subs", split(trim(expr(applied)), "  "))
    val inv = segmented(docs.filter(col("doc_id") % 2 === 0))
      .select(explode(col("subs")).as("sub")).distinct()
      .withColumn("known", lit(1L))
    val hold = segmented(docs.filter(col("doc_id") % 2 === 1), col("lang"))
    val words = hold.groupBy("lang").agg(
      count(lit(1)).as("n_words"),
      sum(length(col("w"))).cast(LongType).as("n_chars_w"))
    val subs = hold.select(col("lang"), explode(col("subs")).as("sub"))
      .join(broadcast(inv), Seq("sub"), "left")
      .groupBy("lang").agg(
        count(lit(1)).as("n_subwords"),
        sum(when(length(col("sub")) > 1, 1L).otherwise(0L)).as("n_merged_subwords"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("oov_subwords"))
    words.join(subs, Seq("lang"))
      .select(col("lang"), col("n_words"), col("n_chars_w"), col("n_subwords"),
        col("n_merged_subwords"), col("oov_subwords"),
        expr("(1000 * n_chars_w) DIV n_subwords").as("chars_per_subword_milli"))
      .orderBy(col("lang").asc_nulls_first)
  }

  private val vocabCoverageSql = {
    val merges = (1 to BpeMergeCount).flatMap(i => Seq(
      s"(SELECT pa FROM t$i) AS pa$i", s"(SELECT pb FROM t$i) AS pb$i")).mkString(", ")
    val applied = (1 to BpeMergeCount).foldLeft("syms")((acc, i) =>
      s"replace($acc, ' ' || pa$i || '  ' || pb$i || ' ', ' ' || pa$i || pb$i || ' ')")
    val ctes = bpeTrainCtesOver("(SELECT * FROM documents WHERE doc_id % 2 = 0)")
    s"""WITH $ctes,
       |m AS (SELECT $merges),
       |tsy AS (
       |  SELECT ' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS syms
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |        WHERE doc_id % 2 = 0)
       |  WHERE regexp_matches(w, '^[a-z]+${"$"}')),
       |inv AS (
       |  SELECT DISTINCT unnest(string_split(trim($applied), '  ')) AS sub FROM tsy, m),
       |hw AS (
       |  SELECT lang, w, ' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS syms
       |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
       |        WHERE doc_id % 2 = 1)
       |  WHERE regexp_matches(w, '^[a-z]+${"$"}')),
       |hwords AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(length(w)) AS BIGINT) AS n_chars_w
       |  FROM hw GROUP BY lang),
       |hsub0 AS (
       |  SELECT lang, unnest(string_split(trim($applied), '  ')) AS sub FROM hw, m),
       |hsubs AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_subwords,
       |    CAST(COUNT(*) FILTER (length(h.sub) > 1) AS BIGINT) AS n_merged_subwords,
       |    CAST(COUNT(*) FILTER (i.sub IS NULL) AS BIGINT) AS oov_subwords
       |  FROM hsub0 h LEFT JOIN inv i ON h.sub = i.sub
       |  GROUP BY lang)
       |SELECT w.lang, n_words, n_chars_w, n_subwords, n_merged_subwords, oov_subwords,
       |  (1000 * n_chars_w) // n_subwords AS chars_per_subword_milli
       |FROM hwords w JOIN hsubs s ON w.lang = s.lang
       |ORDER BY w.lang NULLS FIRST""".stripMargin
  }

  // --------------------------------------------------------------- tx17
  /** Boilerplate prefix census — the template detector beside the
    * near-dup family: documents sharing their OPENING k tokens usually
    * share a generation template (scraper chrome, license headers,
    * form letters) even when the bodies diverge past every dedup
    * threshold. Group by md5 of the first 8 tokens (shorter docs use
    * all they have), keep prefixes seen ≥ 2 times, report the count,
    * an example doc and the prefix text. Map-side hashing; the census
    * exchange carries (hash, partial) rows; the gate's smallest-doc
    * example is a min aggregate, never a window.
    */
  private val BoilerplatePrefixTokens = 8
  private val BoilerplateMinDocs = 2

  private def boilerplateCensus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        array_join(slice(words, 1, BoilerplatePrefixTokens), " ").as("prefix"))
      .groupBy(md5(col("prefix")).as("prefix_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("example_doc"),
        min(col("prefix")).as("prefix"))
      .filter(col("n_docs") >= BoilerplateMinDocs)
      .orderBy(col("prefix_hash").asc_nulls_first)

  private val boilerplateCensusSql =
    s"""WITH p AS (
       |  SELECT doc_id,
       |    array_to_string(string_split(text, ' ')[1:$BoilerplatePrefixTokens], ' ') AS prefix
       |  FROM documents)
       |SELECT md5(prefix) AS prefix_hash, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(doc_id) AS example_doc, MIN(prefix) AS prefix
       |FROM p GROUP BY md5(prefix)
       |HAVING COUNT(*) >= $BoilerplateMinDocs
       |ORDER BY prefix_hash NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- tx18
  /** Unicode NFC normalization pass — the canonical first cleanup step
    * of a pretraining text pipeline (compose combining marks so "e"+
    * U+0301 and "é" dedup/tokenize identically), run through the codegen
    * [[graft.functions.VectorFunctions.unicodeNormalize]] kernel
    * (org.apache.spark.sql.graft.UnicodeNormalize: ASCII and already-
    * normalized fast paths, java.text.Normalizer only on genuinely
    * denormalized rows).
    *
    * The corpus tables are pure ASCII, so the entry DETERMINISTICALLY
    * denormalizes first — combining acute after every 'e' for doc_id%3
    * rows, combining grave after every 'a' for doc_id%7 rows (both
    * engines spell the same replace) — then normalizes and reports the
    * per-document changed flag, code-point lengths before/after, and
    * the md5 of the NFC text. Non-vacuity lives in the data: %3/%7 rows
    * compose (len_nfc < len_raw), coprime-remainder rows pass through
    * untouched, and TextQualitySpec pins both populations plus NFC/NFKC
    * form behavior on the kernel directly.
    *
    * Scale posture: pure map-side per-row compute inside whole-stage
    * codegen; the only exchange is the gate's ORDER BY. At 100 TB the
    * ASCII fast path makes the pass ~a branch per row on the (typical)
    * already-clean majority; nothing is materialized twice.
    */
  private def unicodeNfcPass(s: SparkSession, dir: String): DataFrame = {
    val acute = "́" // COMBINING ACUTE ACCENT (chr(769) in the oracle)
    val grave = "̀" // COMBINING GRAVE ACCENT (chr(768))
    import graft.functions.VectorFunctions.unicodeNormalize
    t(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, expr(s"replace(text, 'e', 'e$acute')"))
          .otherwise(col("text")).as("d0"))
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, expr(s"replace(d0, 'a', 'a$grave')"))
          .otherwise(col("d0")).as("d"))
      .withColumn("nfc", unicodeNormalize(col("d"), "NFC"))
      .select(
        col("doc_id"),
        (col("d") =!= col("nfc")).cast(IntegerType).as("changed"),
        length(col("d")).as("len_raw"),
        length(col("nfc")).as("len_nfc"),
        md5(col("nfc")).as("nfc_hash"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val unicodeNfcPassSql =
    """WITH deco AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN replace(d0, 'a', 'a' || chr(768)) ELSE d0 END AS d
      |  FROM (
      |    SELECT doc_id,
      |      CASE WHEN doc_id % 3 = 0 THEN replace(text, 'e', 'e' || chr(769)) ELSE text END AS d0
      |    FROM documents))
      |SELECT doc_id,
      |  CAST(d != nfc_normalize(d) AS INTEGER) AS changed,
      |  length(d) AS len_raw,
      |  length(nfc_normalize(d)) AS len_nfc,
      |  md5(nfc_normalize(d)) AS nfc_hash
      |FROM deco ORDER BY doc_id NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- tx16
  /** PMI collocation mining — the phrase-discovery operator of a corpus
    * curation stack (multi-word expressions for tokenizer vocab seeding,
    * boilerplate phrase detection). Pointwise mutual information
    * log(p(ab)/(p(a)p(b))) ranks pairs, but log is not bit-stable
    * cross-engine, so the score is the exact RATIONAL under the log in
    * ppm: pmi_ppm = (10^6 · c_ab · N_u²) DIV (N_b · c_a · c_b) — the
    * same ordering (log is monotone), integer-exact in DECIMAL(38,0) /
    * HUGEINT. At sf0.1 the numerator peaks ~10^25; a 10^13-token corpus
    * overflows 38 digits, so the documented scale spelling divides both
    * unigram counts by 10^6 first (pre-normalized probabilities) —
    * ordering unchanged, range restored.
    *
    * Scale posture: bigram/unigram counting is the tx6 explode→groupBy
    * (exchange carries only (gram, count) partial-aggregated rows); the
    * unigram vocabulary joins back BROADCAST (vocab ≪ corpus); min-count
    * support (≥5) prunes the candidate frame before scoring; the global
    * top-20 is a TakeOrderedAndProject (per-partition heap + driver
    * merge of 20·P rows), never a full sort.
    */
  private def pmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").withColumn("w", words)
    val uni = toks.select(explode(col("w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
    val bi = toks.filter(size(col("w")) >= 2)
      .select(explode(
        transform(
          sequence(lit(1), size(col("w")) - 1),
          i => array_join(slice(col("w"), i, lit(2)), " "))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    // both totals ride one tiny broadcast row; uni is vocab-sized
    val totals = uni.agg(sum(col("c")).cast("long").as("nu"))
      .crossJoin(bi.agg(sum(col("c_ab")).cast("long").as("nb")))
    bi
      .select(split(col("bigram"), " ")(0).as("w1"),
        split(col("bigram"), " ")(1).as("w2"), col("c_ab"))
      .join(broadcast(uni.select(col("word").as("w1"), col("c").as("c_a"))), Seq("w1"))
      .join(broadcast(uni.select(col("word").as("w2"), col("c").as("c_b"))), Seq("w2"))
      .join(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_ab"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * c_ab * nu * nu)" +
          " DIV (CAST(nb AS DECIMAL(38,0)) * c_a * c_b) AS BIGINT)").as("pmi_ppm"))
      .orderBy(col("pmi_ppm").desc, col("w1").asc_nulls_first, col("w2").asc_nulls_first)
      .limit(20)
  }

  private val pmiCollocationsSql =
    """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
      |uni AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(w) AS word FROM toks) GROUP BY word),
      |bi AS (
      |  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_ab FROM (
      |    SELECT unnest(list_transform(range(1, len(w)),
      |      i -> array_to_string(w[i:i+1], ' '))) AS bigram
      |    FROM toks WHERE len(w) >= 2)
      |  GROUP BY bigram HAVING COUNT(*) >= 5),
      |totals AS (
      |  SELECT (SELECT CAST(SUM(c) AS HUGEINT) FROM uni) AS nu,
      |         (SELECT CAST(SUM(c_ab) AS HUGEINT) FROM bi) AS nb)
      |SELECT w1, w2, c_ab,
      |  CAST((1000000 * CAST(c_ab AS HUGEINT) * nu * nu)
      |    // (nb * ua.c * ub.c) AS BIGINT) AS pmi_ppm
      |FROM (SELECT string_split(bigram, ' ')[1] AS w1,
      |             string_split(bigram, ' ')[2] AS w2, c_ab FROM bi) b
      |JOIN uni ua ON ua.word = b.w1
      |JOIN uni ub ON ub.word = b.w2
      |CROSS JOIN totals
      |ORDER BY pmi_ppm DESC, w1 NULLS FIRST, w2 NULLS FIRST
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- cur4
  /** Dataset card / datasheet row per SOURCE — the summary table a
    * published corpus ships with (and the per-feed triage view a
    * curation run ends on): volume, exact-dup rate, quality pass rate,
    * token mass, language spread. Reuses the EXACT shared expressions
    * of dd1 (normalized text hash) and tx2 (quality ≥ 0.5 keep rule) so
    * the card can never drift from the operators it summarizes — the
    * cur2 composition discipline. One scan, one hash aggregate; the
    * distinct-hash count shuffles (source, hash) pairs, which IS the
    * dd1 exchange, and the card frame is sources-sized.
    */
  private def datasetCard(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("w", words)
      .select(col("source"), col("lang"), size(col("w")).as("ntok"),
        Dedup.normalizedTextHash(col("text")).as("h"),
        (qualityScore(col("w")) >= 0.5).as("q"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_unique_texts"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
        sum(col("ntok")).as("sum_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      .withColumn("dup_ppm",
        expr("((n_docs - n_unique_texts) * 1000000) DIV n_docs"))
      .orderBy(col("source").asc_nulls_first)

  private val datasetCardSql =
    s"""WITH d AS (
       |  SELECT source, lang, string_split(text, ' ') AS w,
       |    ${Dedup.normalizedTextHashSql("text")} AS h
       |  FROM documents),
       |card AS (
       |  SELECT source,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_texts,
       |    CAST(SUM(CASE WHEN ($qualityScoreSql) >= 0.5
       |             THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |    CAST(SUM(len(w)) AS BIGINT) AS sum_tokens,
       |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
       |  FROM d GROUP BY source)
       |SELECT source, n_docs, n_unique_texts, n_quality, sum_tokens, n_langs,
       |  ((n_docs - n_unique_texts) * 1000000) // n_docs AS dup_ppm
       |FROM card
       |ORDER BY source NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- tx21
  /** RAW-HTML → text extraction — the actual FIRST stage of a web
    * corpus, previously absent (r16 VERDICT #5): every tx operator
    * assumed pre-extracted text. Pipeline: drop <head> (title/style/
    * script), drop residual script/style bodies and comments, convert
    * block-closer tags to line breaks, strip remaining tags, decode
    * HTML entities (tag-strip FIRST so a decoded '<' can never be eaten
    * as markup), whitespace-normalize lines, then remove BOILERPLATE
    * lines by document-frequency census — a line present in > 20% of
    * documents is template chrome (nav, footer, subscribe banners),
    * not content (the Gopher/CCNet line-dedup rule; same df-threshold
    * shape as dd17's shingle cap).
    *
    * The HTML is synthesized closed-form in executors around each
    * document's words (the mm6 synth-container discipline): planted
    * nav/footer in every doc, a newsletter banner in half (df 50% →
    * dropped), a promo line in ~1% (df ≪ 20% → kept) — so the census
    * threshold is exercised in BOTH directions — plus entities and
    * inline markup inside a paragraph. The DuckDB oracle never parses
    * HTML: it restates the expected extraction ARITHMETICALLY from the
    * raw words, so the gate hash proves the whole regex pipeline is
    * exact and lossless. Paragraph lines embed the doc id, so corpus
    * prefix collisions (tx17 shows boilerplate openings are common)
    * cannot push a content line over the census threshold.
    *
    * Scale posture: synthesis+extraction are map-side expression work;
    * the census shuffles (line, doc_id) once and joins back on the
    * line hash — the same narrow exchange as dd1; re-assembly is one
    * grouped collect of the doc's own ≤ 4 kept lines (bounded by the
    * per-doc line count, never corpus-wide).
    */
  private def htmlExtract(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("w", words)
      .filter(size(col("w")) >= 10)
    val id = col("doc_id").cast("string")
    val para1 = array_join(slice(col("w"), 1, 5), " ")
    val para2 = array_join(slice(col("w"), 6, 5), " ")
    val html = concat(
      lit("<html><head><title>t"), id, lit("</title>"),
      lit("<style>body { color: #000; }</style>"),
      lit("<script>if (a < b && c > 1) { x = \"q\"; }</script></head>"),
      lit("<body><nav>Home | About | Contact</nav>"),
      lit("<!-- hidden <b>comment</b> -->"),
      lit("<div id=\"main\"><h1>Doc "), id, lit("</h1>"),
      lit("<p>p1 of "), id, lit(": "), para1, lit("</p>"),
      lit("<p><b>p2</b> of "), id, lit(": "), para2,
      lit(" &amp; &lt;tag&gt; &quot;q&#39;</p>"),
      when(col("doc_id") % 2 === 0,
        lit("<p>Subscribe to our newsletter</p>")).otherwise(lit("")),
      when(col("doc_id") % 97 === 0,
        lit("<p>promo of the day</p>")).otherwise(lit("")),
      lit("</div><footer>Copyright 2024 Example Corp</footer></body></html>"))
    extractHtml(docs.select(col("doc_id"), html.as("html")))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  /** The extraction core over any (doc_id, html) frame — package-
    * visible so the planted-boilerplate spec can drive it with
    * hand-written HTML. Returns one row per doc: kept/dropped line
    * counts and the newline-joined kept text in document order.
    */
  private[graft] def extractHtml(pages: DataFrame): DataFrame = {
    val html = col("html")
    // extraction — generic, order-sensitive: structure drops, then
    // block-closers → '\n', then tag strip, then entity decode
    val noHead = regexp_replace(html, "(?is)<head>.*?</head>", " ")
    val noScript = regexp_replace(noHead, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    // BOTH opening and closing block tags break lines (an opening <div>
    // after running text separates it from the div's content even when
    // no closer intervenes); \b keeps <p> from matching <param>
    val blocks = regexp_replace(noComment,
      "(?i)</?(p|div|h[1-6]|li|ul|ol|nav|footer|header|section|article|table|tr)\\b[^>]*>|<br\\b[^>]*>",
      "\n")
    val noTags = regexp_replace(blocks, "(?s)<[^>]*>", "")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&") // &amp; LAST: no double-decode
      .foldLeft(noTags) { case (c, (e, ch)) => replace(c, lit(e), lit(ch)) }
    // the line frame feeds the census AND the keep/drop join; unlike
    // dd19's anchor frame it is deliberately NOT persisted — measured
    // at sf10 (r17): caching the wide line strings costs more than the
    // second run of the synth+regex chain (6.3 s persisted vs 5.8 s
    // recomputed), because the extraction is map-side-cheap while the
    // lines carry the full text payload
    val lines = pages
      .select(col("doc_id"), posexplode(split(decoded, "\n")).as(Seq("pos", "l0")))
      .select(col("doc_id"), col("pos"),
        trim(regexp_replace(col("l0"), "\\s+", " ")).as("line"))
      .filter(col("line") =!= "")
    val census = lines.groupBy("line").agg(countDistinct(col("doc_id")).as("df"))
    val total = pages.agg(count(lit(1)).as("n_total"))
    lines
      .join(census, Seq("line"))
      .crossJoin(broadcast(total))
      .withColumn("boiler", col("df") * 5 > col("n_total"))
      .groupBy("doc_id")
      .agg(
        sum(when(!col("boiler"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(!col("boiler"), struct(col("pos"), col("line"))))),
            x => x("line")),
          "\n").as("extracted"))
  }

  private val htmlExtractSql =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 10)
      |SELECT doc_id,
      |  CAST(3 + CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_kept,
      |  CAST(2 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_boiler_dropped,
      |  'Doc ' || doc_id || chr(10) ||
      |  'p1 of ' || doc_id || ': ' || array_to_string(w[1:5], ' ') || chr(10) ||
      |  'p2 of ' || doc_id || ': ' || array_to_string(w[6:10], ' ') ||
      |  ' & <tag> "q''' ||
      |  CASE WHEN doc_id % 97 = 0 THEN chr(10) || 'promo of the day' ELSE '' END
      |    AS extracted
      |FROM d ORDER BY doc_id NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- tx22
  /** Compression-ratio quality signal (r16 VERDICT #8) — the Gopher/
    * CCNet repetitive-junk filter: templated spam compresses far below
    * natural prose, and DEFLATE ratio is the standard text-quality
    * feature no token census substitutes for. Per document the codegen
    * [[graft.functions.VectorFunctions.deflatedLen]] kernel (fixed
    * level, ThreadLocal-reused native stream) prices the text AND a
    * same-word-count repetitive twin (first word repeated), then the
    * gate emits per-lang exact counts plus BOUNDED flags in the
    * dq9/tx7 discipline — DuckDB has no zlib, so raw byte counts never
    * reach the output:
    *   - `all_sane`: every compressed size is positive and under the
    *     DEFLATE stored-block worst case (raw + raw/100 + 64) — true
    *     for ANY conforming encoder;
    *   - `junk_discriminates`: the per-lang aggregate ratio of the
    *     repetitive twins is under HALF the real text's — measured
    *     ~70‰ vs ~500‰ at every scale, so the 2× margin is ~7σ; the
    *     aggregate (not per-doc) comparison is deliberate: a 10-word
    *     doc's twin is header-dominated and can ratio ABOVE its text.
    * TextQualitySpec pins the per-doc signal on planted high/low-
    * entropy documents with exact separations.
    *
    * Scale posture: pure map-side per-document kernel work + one hash
    * aggregate at lang grain; nothing but (lang, 4 longs) crosses the
    * exchange.
    */
  private def compressionRatio(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.deflatedLen
    val docs = t(s, dir, "documents")
      .withColumn("w", words)
      .filter(col("text").isNotNull && length(col("text")) > 0)
    val junk = array_join(array_repeat(element_at(col("w"), 1), size(col("w"))), " ")
    val priced = docs.select(
      col("lang"),
      octet_length(col("text")).cast("long").as("raw"),
      deflatedLen(col("text")).cast("long").as("c"),
      octet_length(junk).cast("long").as("rawj"),
      deflatedLen(junk).cast("long").as("cj"))
    priced.groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("raw")).as("sum_raw_bytes"),
        min(col("c") > 0 && col("c") <= col("raw") + col("raw") / 100 + 64 &&
          col("cj") > 0 && col("cj") <= col("rawj") + col("rawj") / 100 + 64)
          .as("all_sane"),
        (sum(col("cj")) * lit(2.0) / sum(col("rawj")) <
          sum(col("c")).cast("double") / sum(col("raw")))
          .as("junk_discriminates"))
      .select(col("lang"), col("n_docs"), col("sum_raw_bytes"),
        col("all_sane"), col("junk_discriminates"))
      .orderBy(col("lang").asc_nulls_first)
  }

  private val compressionRatioSql =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(strlen(text)) AS BIGINT) AS sum_raw_bytes,
      |  TRUE AS all_sane, TRUE AS junk_discriminates
      |FROM documents
      |WHERE text IS NOT NULL AND len(text) > 0
      |GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- url1
  /** URL canonicalization + registrable-domain (PLD) extraction +
    * url-grain dedup census — the step that precedes every crawl
    * curation (r16 VERDICT #7): url-grain dedup and per-host stats are
    * meaningless over raw spellings ('HTTPS://u:p@WWW.X.COM:443/a?utm_
    * source=f&b=2&a=1#frag' and 'https://www.x.com/a?a=1&b=2' are the
    * same page). Rules, each a plain string expression: lowercase
    * scheme+host, strip userinfo / fragment / the scheme's DEFAULT
    * port (non-default ports are identity), drop tracking params
    * (utm_*, fbclid, gclid), sort surviving params, empty path → '/';
    * the PLD comes from a BROADCAST public-suffix list, longest match
    * (so 'a.b.co.uk' → 'b.co.uk', not 'co.uk' via the bare 'uk' rule).
    *
    * Three raw spellings are synthesized per document — two of them
    * the same page in different spellings (junk params, case, default
    * port, userinfo, fragment), one a genuinely different page — so
    * the dedup census must find EXACTLY 2 raw URLs per canonical. The
    * oracle restates canonical strings, PLDs, and the census
    * arithmetically from doc_id (closed-form synthesis, mm6/tx21
    * discipline). Adversarial corners (IDN, empty path, bare host,
    * nested subdomains, params without values) are spec-pinned in
    * TextQualitySpec.
    *
    * Scale posture: canonicalization is map-side; the census is one
    * hash aggregate keyed by canonical string; the suffix list is a
    * broadcast of a few thousand rows (the real PSL fits in one
    * partition); output joins back at url grain — dd1's exchange shape.
    */
  private[graft] val UrlTrackingParams = "^(utm_[^=]*|fbclid|gclid)(=.*)?$"

  /** Canonical URL of a raw-URL column — package-visible for the spec's
    * adversarial corpus.
    */
  private[graft] def canonicalUrl(raw: Column): Column = {
    val scheme = lower(regexp_extract(raw, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = regexp_extract(raw, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val hostPort = substring_index(auth, "@", -1)
    val host = lower(substring_index(hostPort, ":", 1))
    val port = regexp_extract(hostPort, ":([0-9]+)$", 1)
    val path0 = regexp_extract(raw, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query = regexp_extract(raw, "\\?([^#]*)", 1)
    val kept = filter(split(query, "&"),
      p => p =!= "" && !p.rlike(UrlTrackingParams))
    val q = array_join(array_sort(kept), "&")
    val portPart = when(
      port === "" || (scheme === "https" && port === "443") ||
        (scheme === "http" && port === "80"), lit(""))
      .otherwise(concat(lit(":"), port))
    concat(scheme, lit("://"), host, portPart, path,
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }

  /** Registrable domain of a host under a suffix-RULE frame (column:
    * suffix) with FULL public-suffix-list semantics (r17): plain rules
    * ("co.uk"), wildcard rules ("*.ck" — every direct child of ck is
    * itself a public suffix), and exception rules ("!www.ck" — cancels
    * a wildcard, making that exact host registrable). Per the PSL
    * algorithm: an exception match wins outright (its effective public
    * suffix is the rule minus its leftmost label); otherwise the
    * LONGEST matching rule's effective suffix applies; the registrable
    * domain is the suffix plus one more label; a host that IS a public
    * suffix, or matches no rule, yields NULL.
    *
    * Scale posture: the rule list (the real PSL is ~9k rows) rides one
    * broadcast; matching is a broadcast theta-join at host grain with
    * a bounded per-host fan-out (a host matches at most a handful of
    * rules), then one max_by aggregate — no shuffle of the host census.
    */
  private[graft] def pldOf(hosts: DataFrame, suffixes: DataFrame): DataFrame = {
    val rules = suffixes.select(
      when(col("suffix").startsWith("!"), lit("exception"))
        .when(col("suffix").startsWith("*."), lit("wildcard"))
        .otherwise(lit("plain")).as("kind"),
      when(col("suffix").startsWith("!"), expr("substring(suffix, 2)"))
        .when(col("suffix").startsWith("*."), expr("substring(suffix, 3)"))
        .otherwise(col("suffix")).as("base"))
    // effective public suffix per (host, matching rule):
    //   plain     base               host == base or host ends ".base"
    //   wildcard  <label>.base       host ends ".base" with ≥1 label left
    //   exception parent(base)       host == base or host ends ".base"
    val joined = hosts.join(broadcast(rules),
      expr("host = base OR endswith(host, '.' || base)"), "left")
    val leftPart = expr("substring(host, 1, length(host) - length(base) - 1)")
    val ps = when(col("kind") === "plain", col("base"))
      .when(col("kind") === "exception",
        // the exception rule minus its leftmost label; an empty parent
        // (single-label exception) cannot occur in a valid PSL
        expr("substring(base, instr(base, '.') + 1)"))
      .when(col("kind") === "wildcard" && col("host") =!= col("base"),
        concat(substring_index(leftPart, ".", -1), lit("."), col("base")))
    // an exception's effective suffix makes the excepted host itself
    // come out of the STANDARD suffix-plus-one-label formula, so no
    // special final step exists: only the priority (exception first,
    // then longest suffix) differs from the plain case. Degenerate
    // matches (a wildcard's own base) carry a NULL ps and are filtered
    // before the pick; the left re-join keeps every host total.
    val matched = joined
      .select(col("host"), col("kind"), ps.as("ps"))
      .filter(col("kind").isNotNull && col("ps").isNotNull)
      .groupBy("host")
      .agg(max_by(col("ps"), struct(
        (col("kind") === "exception").cast("int"), length(col("ps")))).as("sfx"))
    hosts.select("host").distinct()
      .join(matched, Seq("host"), "left")
      .select(col("host"),
        when(col("sfx").isNull || col("host") === col("sfx"), lit(null))
          .otherwise(concat(
            substring_index(
              expr("substring(host, 1, length(host) - length(sfx) - 1)"), ".", -1),
            lit("."), col("sfx"))).as("pld"))
  }

  private def urlCanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val id = col("doc_id").cast("string")
    // three TLD cohorts so every PSL rule KIND is live in the gate
    // (r17 VERDICT #2): .co.uk exercises plain longest-match beating
    // the bare 'uk' rule; .com the single-label plain rule; .ck the
    // wildcard '*.ck' (each exampleK.ck is itself a public suffix, so
    // the registrable grain is www.exampleK.ck) with the exception
    // '!example3.ck' cancelling the wildcard for the K=3 host (its
    // registrable grain drops back to example3.ck)
    val tld = when(col("doc_id") % 3 === 0, lit(".CO.UK"))
      .when(col("doc_id") % 3 === 1, lit(".COM"))
      .otherwise(lit(".CK"))
    val hostRaw = concat(lit("WWW.Example"), (col("doc_id") % 7).cast("string"), tld)
    val v0 = concat(lit("HTTPS://user:pw@"), hostRaw,
      lit(":443/Item/"), id, lit("?utm_source=feed&b=2&a=1&fbclid=xyz#sec2"))
    val v1 = concat(lit("https://"), lower(hostRaw),
      lit("/Item/"), id, lit("?a=1&utm_campaign=c&b=2"))
    val v2 = concat(lit("http://"), lower(hostRaw), lit(":80/p/"), id)
    val variants = t(s, dir, "documents")
      .select(col("doc_id"), explode(array(v0, v1, v2)).as("raw"))
      .select(col("doc_id"), col("raw"), canonicalUrl(col("raw")).as("canonical"))
    // url-grain dedup census over CANONICAL spellings
    val censusByUrl = variants.groupBy("canonical").agg(count(lit(1)).as("n_raw"))
    val suffixes = Seq("com", "org", "net", "io", "uk", "co.uk", "ac.uk",
      "*.ck", "!example3.ck").toDF("suffix")
    val hosts = variants
      .select(lower(regexp_extract(col("raw"),
        "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1)).as("host"))
      .distinct()
    val plds = pldOf(hosts, suffixes)
    variants
      .filter(col("raw").startsWith("HTTPS://")) // one output row per doc: the hard spelling
      .select(col("doc_id"), col("canonical"),
        lower(regexp_extract(col("raw"),
          "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1)).as("host"))
      .join(broadcast(plds), Seq("host"))
      .join(censusByUrl, Seq("canonical"))
      .select(col("doc_id"), col("canonical"), col("pld"), col("n_raw"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  private val urlCanonicalDedupSql =
    """SELECT doc_id,
      |  'https://www.example' || (doc_id % 7) ||
      |    CASE WHEN doc_id % 3 = 0 THEN '.co.uk'
      |         WHEN doc_id % 3 = 1 THEN '.com' ELSE '.ck' END ||
      |    '/Item/' || doc_id || '?a=1&b=2' AS canonical,
      |  CASE WHEN doc_id % 3 = 0 THEN 'example' || (doc_id % 7) || '.co.uk'
      |       WHEN doc_id % 3 = 1 THEN 'example' || (doc_id % 7) || '.com'
      |       WHEN doc_id % 7 = 3 THEN 'example3.ck'
      |       ELSE 'www.example' || (doc_id % 7) || '.ck' END AS pld,
      |  CAST(2 AS BIGINT) AS n_raw
      |FROM documents ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- url2
  /** robots.txt COMPLIANCE filtering (RFC 9309) — the fetch-policy rung
    * of the crawl chain (robots → warc1 framing → warc2 charset → tx21
    * extraction → url1 canonicalization): a pretraining crawler must
    * drop disallowed URLs BEFORE fetching, and the REP semantics have
    * the same longest-match-with-priority shape as the PSL: group
    * selection first (a group naming the crawler's OWN user-agent
    * replaces the `*` group outright — rules do not merge across
    * groups), then per-URL the LONGEST matching path prefix wins, with
    * `Allow` beating `Disallow` on equal length; no match = allowed.
    *
    * The parser is real line-grain work: posexplode keeps file order, a
    * running window over `User-agent:` lines assigns each directive to
    * its group (comments/blank lines skipped, not group terminators —
    * RFC 9309 §2.2), and group selection is a per-host aggregate over
    * the parsed frame. Matching is url1's exchange shape exactly: the
    * rule frame is config-grain (a few rows per host), so it rides ONE
    * broadcast into a theta-join (`startswith(path, rule_path)`) and a
    * `max_by(struct(length, is_allow))` pick — no shuffle of the URL
    * census at any corpus size.
    *
    * Synthesis (closed-form): host k = doc_id%7 serves a robots.txt
    * where every host blocks `/admin/`, even hosts also block `/p/` but
    * re-allow `/p/open/` (the tie-break exercise), and k%3=0 hosts add
    * a `graftbot` group blocking only `/Item/` — which, being the
    * crawler's own agent, REPLACES the `*` rules (so /p/ is crawlable
    * there even on even hosts). Paths rotate by doc_id%4 over /Item/,
    * /p/, /p/open/, /admin/. The oracle restates group, matched rule,
    * and the verdict arithmetically from (doc_id%7, doc_id%4).
    */
  private def robotsFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val k = col("doc_id") % 7
    val p = col("doc_id") % 4
    val host = concat(lit("www.example"), k.cast("string"), lit(".com"))
    val path = when(p === 0, concat(lit("/Item/"), col("doc_id").cast("string")))
      .when(p === 1, concat(lit("/p/"), col("doc_id").cast("string")))
      .when(p === 2, concat(lit("/p/open/"), col("doc_id").cast("string")))
      .otherwise(concat(lit("/admin/"), col("doc_id").cast("string")))
    val urls = docs.select(col("doc_id"), host.as("host"), path.as("path"))
    // one robots.txt per host — config-grain; comments and blank lines
    // planted so the parser's skip path is non-vacuous
    val hk = col("k")
    val robots = docs.select((col("doc_id") % 7).as("k")).distinct()
      .select(
        concat(lit("www.example"), hk.cast("string"), lit(".com")).as("host"),
        concat(
          lit("# robots for example"), hk.cast("string"), lit("\n"),
          lit("User-agent: *\nDisallow: /admin/\n"),
          when(hk % 2 === 0, lit("Disallow: /p/\nAllow: /p/open/\n"))
            .otherwise(lit("")),
          when(hk % 3 === 0,
            lit("\nUser-agent: graftbot\nDisallow: /Item/\n"))
            .otherwise(lit(""))).as("robots"))
    robotsDecisions(urls, robots, agent = "graftbot")
      .orderBy(col("doc_id").asc_nulls_first)
  }

  /** REP decisions for a (doc_id, host, path) census against a
    * (host, robots) file frame — package-visible for the spec's corner
    * fixtures (consecutive UA lines sharing a group, case-insensitive
    * directives, tie-length Allow vs Disallow, empty-value Disallow).
    */
  private[graft] def robotsDecisions(urls: DataFrame, robots: DataFrame,
      agent: String): DataFrame = {
    // line-grain parse, file order kept by posexplode
    val lines = robots.select(col("host"),
      posexplode(split(col("robots"), "\n")).as(Seq("line_no", "line")))
      .withColumn("directive",
        lower(regexp_extract(col("line"), "^([A-Za-z-]+)\\s*:", 1)))
      .withColumn("value", trim(regexp_extract(col("line"), "^[A-Za-z-]+\\s*:(.*)$", 1)))
    // group id = running count of user-agent lines; consecutive UA lines
    // coalesce into one group (same id via the LAG check: a UA line only
    // opens a NEW group if the previous directive line was not also UA)
    val w = Window.partitionBy("host").orderBy("line_no")
    val grouped = lines
      .filter(col("directive").isin("user-agent", "allow", "disallow"))
      .withColumn("prev_dir", lag(col("directive"), 1).over(w))
      .withColumn("opens",
        (col("directive") === "user-agent" &&
          (col("prev_dir").isNull || col("prev_dir") =!= "user-agent")).cast("int"))
      .withColumn("gid", sum(col("opens")).over(
        Window.partitionBy("host").orderBy("line_no")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val agents = grouped.filter(col("directive") === "user-agent")
      .select(col("host"), col("gid"), lower(col("value")).as("ua"))
    val rules = grouped.filter(col("directive").isin("allow", "disallow"))
      .filter(col("value") =!= "") // empty Disallow: = allow-all, no rule
      .select(col("host"), col("gid"), col("directive").as("rtype"),
        col("value").as("rpath"))
    // group selection: a group naming OUR agent replaces '*' outright
    val ownGids = agents.filter(col("ua") === agent.toLowerCase)
      .select(col("host"), col("gid"))
    val hostsWithOwn = ownGids.select("host").distinct()
      .withColumn("has_own", lit(true))
    val starGids = agents.filter(col("ua") === "*").select(col("host"), col("gid"))
    val applicableGids = ownGids.unionByName(
      starGids.join(hostsWithOwn, Seq("host"), "left_anti"))
    val applicable = rules.join(applicableGids, Seq("host", "gid"))
      .select(col("host"), col("rtype"), col("rpath"))
    val groupUsed = hostsWithOwn.select(col("host"), lit(agent).as("group_used"))
    // longest-match pick; Allow beats Disallow on equal length (RFC 9309)
    val matched = urls.join(broadcast(applicable),
        urls("host") === applicable("host") &&
          col("path").startsWith(col("rpath")), "left")
      .groupBy(urls("host").as("host"), col("doc_id"), col("path"))
      .agg(max_by(struct(col("rtype"), col("rpath")),
        struct(length(col("rpath")), (col("rtype") === "allow").cast("int")))
        .as("rule"))
    matched
      .join(broadcast(groupUsed), Seq("host"), "left")
      .select(col("doc_id"), col("host"), col("path"),
        coalesce(col("group_used"), lit("*")).as("group_used"),
        coalesce(col("rule.rpath"), lit("")).as("matched_rule"),
        (col("rule.rtype").isNull || col("rule.rtype") === "allow").as("allowed"))
  }

  private val robotsFilterSql =
    """SELECT doc_id,
      |  'www.example' || (doc_id % 7) || '.com' AS host,
      |  CASE CAST(doc_id % 4 AS INT)
      |    WHEN 0 THEN '/Item/' || doc_id
      |    WHEN 1 THEN '/p/' || doc_id
      |    WHEN 2 THEN '/p/open/' || doc_id
      |    ELSE '/admin/' || doc_id END AS path,
      |  CASE WHEN doc_id % 7 IN (0, 3, 6) THEN 'graftbot' ELSE '*' END AS group_used,
      |  CASE WHEN doc_id % 7 IN (0, 3, 6) THEN
      |    CASE WHEN doc_id % 4 = 0 THEN '/Item/' ELSE '' END
      |  ELSE
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 1 THEN CASE WHEN doc_id % 7 IN (2, 4) THEN '/p/' ELSE '' END
      |      WHEN 2 THEN CASE WHEN doc_id % 7 IN (2, 4) THEN '/p/open/' ELSE '' END
      |      WHEN 3 THEN '/admin/'
      |      ELSE '' END
      |  END AS matched_rule,
      |  CASE WHEN doc_id % 7 IN (0, 3, 6) THEN doc_id % 4 <> 0
      |  ELSE NOT (doc_id % 4 = 3 OR (doc_id % 4 = 1 AND doc_id % 7 IN (2, 4)))
      |  END AS allowed
      |FROM documents ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- url3
  /** Sitemap-driven recrawl FRONTIER — the discovery/scheduling rung of
    * the crawl chain (sitemap frontier → robots url2 → fetch → warc1
    * framing → warc2 charset → tx21 extraction → url1 canonicalize): a
    * crawler learns what a host WANTS crawled from its sitemap.xml
    * (sitemaps.org protocol: <url> records carrying <loc>, optional
    * <lastmod>, <priority>), and schedules a bounded per-host fetch
    * budget by priority-then-freshness. The entry round-trips the
    * protocol: it ASSEMBLES one sitemap XML blob per host from the
    * census (ordered string aggregation), then PARSES the blobs back —
    * record split, field extraction, missing-lastmod handling (treated
    * as epoch-old, never dropped) — and ranks each host's URLs by
    * (priority desc, lastmod desc, doc_id) with `fetch_now` marking the
    * top [[SitemapBudget]]. The oracle re-derives every output column
    * arithmetically from doc_id — NOT from the XML — so the hash proves
    * the assemble→parse round-trip is lossless.
    *
    * Scale posture: blobs are bounded BY CONSTRUCTION, not by comment —
    * the protocol caps one sitemap file at 50k URLs and real hosts ship
    * a sitemap INDEX of numbered files, so the synthesis shards each
    * host's census by a closed-form id stride ([[SitemapShardStride]] =
    * 50k × 11 consecutive ids → ≤ 50k per (host, shard) whatever the
    * corpus size or ScaleGen block layout; review r18 — the unsharded
    * spelling grew one string row linearly with the corpus). Assembly
    * shuffles on (host, shard); the ranking window is HOST-grain across
    * a host's shard files (its own exchange — the price of the index
    * shape, and window state is still one host's records). Parsing
    * itself is map-side regex over bounded blobs.
    */
  private val SitemapBudget = 8
  private val SitemapShardStride = 50000L * 11

  private def sitemapFrontier(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val host = concat(lit("www.site"), (col("doc_id") % 11).cast("string"),
      lit(".example"))
    val lastmodXml = when(col("doc_id") % 13 === 0, lit(""))
      .otherwise(concat(lit("<lastmod>"),
        date_format(date_add(to_date(lit("2025-01-01")),
          (col("doc_id") % 90).cast("int")), "yyyy-MM-dd"),
        lit("</lastmod>")))
    val entry = concat(
      lit("<url><loc>https://"), host, lit("/page/"), id, lit("</loc>"),
      lastmodXml,
      lit("<priority>0."), (col("doc_id") % 10).cast("string"),
      lit("</priority></url>"))
    val sitemaps = t(s, dir, "documents")
      .select(col("doc_id"), host.as("host"),
        expr(s"doc_id DIV $SitemapShardStride").as("shard"),
        entry.as("entry"))
      .groupBy("host", "shard")
      .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("entry")))),
          x => x.getField("entry")), ""),
        lit("</urlset>")).as("xml"))
      .select("host", "xml")
    sitemapRank(sitemaps).orderBy(
      col("host").asc_nulls_first, col("sched_rank").asc_nulls_first,
      col("doc_id").asc_nulls_first)
  }

  /** Parse + rank over any (host, xml) sitemap frame — package-visible
    * for the spec's protocol corners (whitespace between tags, missing
    * lastmod, record order independence).
    */
  private[graft] def sitemapRank(sitemaps: DataFrame): DataFrame = {
    val parsed = sitemaps
      .select(col("host"), posexplode(
        expr("regexp_extract_all(xml, '<url>(.*?)</url>', 1)"))
        .as(Seq("pos", "block")))
      .withColumn("doc_id",
        regexp_extract(col("block"), "/page/([0-9]+)\\s*</loc>", 1).cast("long"))
      .withColumn("lastmod",
        to_date(regexp_extract(col("block"),
          "<lastmod>\\s*([0-9-]+)\\s*</lastmod>", 1)))
      .withColumn("priority_pct",
        regexp_extract(col("block"),
          "<priority>0\\.([0-9])</priority>", 1).cast("long") * 10)
    val w = Window.partitionBy("host").orderBy(
      col("priority_pct").desc,
      coalesce(col("lastmod"), to_date(lit("1970-01-01"))).desc,
      col("doc_id").asc)
    parsed
      .withColumn("sched_rank", row_number().over(w).cast("long"))
      .select(col("host"), col("doc_id"), col("lastmod"),
        col("priority_pct"),
        col("sched_rank"), (col("sched_rank") <= SitemapBudget).as("fetch_now"))
  }

  private val sitemapFrontierSql =
    s"""WITH u AS (
      |  SELECT doc_id,
      |    'www.site' || (doc_id % 11) || '.example' AS host,
      |    CASE WHEN doc_id % 13 = 0 THEN NULL
      |      ELSE DATE '2025-01-01' + CAST(doc_id % 90 AS INT) END AS lastmod,
      |    CAST(10 * (doc_id % 10) AS BIGINT) AS priority_pct
      |  FROM documents),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY host
      |    ORDER BY priority_pct DESC,
      |      COALESCE(lastmod, DATE '1970-01-01') DESC,
      |      doc_id ASC) AS BIGINT) AS sched_rank
      |  FROM u)
      |SELECT host, doc_id, lastmod, priority_pct, sched_rank,
      |  sched_rank <= $SitemapBudget AS fetch_now
      |FROM r
      |ORDER BY host NULLS FIRST, sched_rank NULLS FIRST, doc_id NULLS FIRST""".stripMargin

  // -------------------------------------------------------------- warc1
  /** WARC record parsing — the container stage BEFORE tx21: a web
    * corpus arrives as WARC files (CommonCrawl's format), each a
    * concatenation of length-framed records (request, response,
    * metadata …), and the pipeline must walk the framing, pick the
    * response records, split the HTTP envelope, and hand the HTML to
    * extraction. Framing is the part a regex cannot do: a payload may
    * itself contain "WARC/1.0" or blank lines, so record boundaries
    * exist ONLY via each header's Content-Length — the parser here
    * skips the leading request record arithmetically (header length +
    * 4 + Content-Length + 4) to reach the response, then validates
    * both framings by cross-checking delimiters against the declared
    * lengths (the flags the oracle states TRUE).
    *
    * Synthesis (mm6/tx21 discipline): per document a two-record WARC
    * blob — a request record FIRST (so the framing walk is
    * non-vacuous) then the response with an HTTP/1.1 envelope (status
    * 404 for every doc_id % 11 = 0, else 200) around a minimal HTML
    * page. Everything the parser emits — the doc id recovered from the
    * TARGET URI (never from the input column), the WARC type, the HTTP
    * status, both framing flags, and the <h1> — is restated
    * arithmetically by the oracle, so the hash proves the whole walk.
    *
    * Scale posture: pure map-side string arithmetic (no shuffle before
    * the gate sort); at 100 TB this runs as the first projection over
    * the raw-bytes scan, exactly where CommonCrawl pipelines put it.
    */
  private def warcExtract(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("w", words)
      .filter(size(col("w")) >= 10)
    val id = col("doc_id").cast("string")
    val uri = concat(lit("https://www.example"), (col("doc_id") % 7).cast("string"),
      lit(".com/doc/"), id)
    val html = concat(
      lit("<html><body><h1>Doc "), id, lit("</h1><p>"),
      array_join(slice(col("w"), 1, 8), " "), lit("</p></body></html>"))
    val status = when(col("doc_id") % 11 === 0, lit("404 Not Found"))
      .otherwise(lit("200 OK"))
    val httpReq = concat(lit("GET /doc/"), id,
      lit(" HTTP/1.1\r\nHost: example.com\r\n\r\n"))
    val reqRec = concat(
      lit("WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: "), uri,
      lit("\r\nContent-Length: "), octet_length(httpReq).cast("string"),
      lit("\r\n\r\n"), httpReq, lit("\r\n\r\n"))
    val httpResp = concat(lit("HTTP/1.1 "), status,
      lit("\r\nContent-Type: text/html\r\nContent-Length: "),
      octet_length(html).cast("string"), lit("\r\n\r\n"), html)
    val respRec = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), uri,
      lit("\r\nContent-Length: "), octet_length(httpResp).cast("string"),
      lit("\r\n\r\n"), httpResp, lit("\r\n\r\n"))
    val blob = concat(reqRec, respRec)
    parseWarcResponse(docs.select(blob.as("warc")))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  /** The parser over any single-column (warc) frame of two-record blobs
    * whose first record is skipped by length arithmetic — package-
    * visible for the spec's adversarial blobs (payloads containing
    * "WARC/1.0" and blank lines, which delimiter-split parsers eat;
    * non-ASCII payloads, which char-positional slicing mis-frames).
    *
    * BYTE-true framing (r17 review-2 #1): WARC Content-Length counts
    * BYTES, but Spark's string substring is CHARACTER-positional — on
    * any multi-byte UTF-8 payload the two drift and the walk would
    * slice mid-record. All offset arithmetic therefore runs on the
    * blob's BINARY form (binary substring is byte-positional; header
    * byte extents come from octet_length of the regex-extracted header
    * strings), and slices decode back to strings only for the regex
    * field work.
    */
  private[graft] def parseWarcResponse(blobs: DataFrame): DataFrame = {
    val warc = col("warc")
    // record 1: header up to the first blank line, then Content-Length
    // bytes of payload, then the record separator — all byte arithmetic
    val hdr1 = regexp_extract(warc, "(?s)^(.*?)\r\n\r\n", 1)
    val l1 = regexp_extract(hdr1, "(?m)^Content-Length: ([0-9]+)\r?$", 1).cast("int")
    val parsed = blobs
      .withColumn("bin", expr("encode(warc, 'UTF-8')"))
      .withColumn("hdr1", hdr1)
      .withColumn("l1", l1)
      .withColumn("rec2bin", expr("substring(bin, octet_length(hdr1) + 4 + l1 + 4 + 1)"))
      .withColumn("rec2", expr("decode(rec2bin, 'UTF-8')"))
      .withColumn("hdr2", regexp_extract(col("rec2"), "(?s)^(.*?)\r\n\r\n", 1))
      .withColumn("l2",
        regexp_extract(col("hdr2"), "(?m)^Content-Length: ([0-9]+)\r?$", 1).cast("int"))
      .withColumn("wtype",
        regexp_extract(col("hdr2"), "(?m)^WARC-Type: ([^\r\n]+)", 1))
      .withColumn("uri",
        regexp_extract(col("hdr2"), "(?m)^WARC-Target-URI: ([^\r\n]+)", 1))
      .withColumn("payloadBin",
        expr("substring(rec2bin, octet_length(hdr2) + 4 + 1, l2)"))
      .withColumn("payload", expr("decode(payloadBin, 'UTF-8')"))
    parsed.select(
      regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
      col("wtype").as("warc_type"),
      regexp_extract(col("payload"), "^HTTP/1\\.[01] ([0-9]{3})", 1).cast("int")
        .as("http_status"),
      // framing cross-checks: the response record's declared byte length
      // vs its delimiter-measured extent, and the HTTP envelope's
      // declared body length vs the delimiter-split remainder — all in
      // bytes on both sides
      (expr("length(rec2bin)") ===
        octet_length(col("hdr2")) + lit(4) + col("l2") + lit(4)).as("warc_len_ok"),
      (expr("length(substring(payloadBin, " +
        "octet_length(regexp_extract(payload, '(?s)^(.*?)\\r\\n\\r\\n', 1)) + 4 + 1))") ===
        regexp_extract(col("payload"), "(?m)^Content-Length: ([0-9]+)\r?$", 1).cast("int"))
        .as("http_len_ok"),
      regexp_extract(col("payload"), "<h1>([^<]*)</h1>", 1).as("h1"))
  }

  private val warcExtractSql =
    """SELECT doc_id,
      |  'response' AS warc_type,
      |  CAST(CASE WHEN doc_id % 11 = 0 THEN 404 ELSE 200 END AS INT) AS http_status,
      |  TRUE AS warc_len_ok, TRUE AS http_len_ok,
      |  'Doc ' || doc_id AS h1
      |FROM documents
      |WHERE len(string_split(text, ' ')) >= 10
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // -------------------------------------------------------------- warc2
  /** CHARSET sniffing + byte-true decode — the rung between warc1's
    * framing and tx21's extraction (r17 VERDICT #6): a real crawl's
    * HTTP payloads are NOT all UTF-8, and the charset is discovered in
    * priority order exactly as browsers/CommonCrawl pipelines do it:
    * the Content-Type header's charset parameter, else an ASCII-region
    * `<meta charset=…>` sniff, else a byte-order mark, else the UTF-8
    * default. The pipeline never assumes the payload decodes as UTF-8
    * before detection: all positional work runs on the BINARY form via
    * the ISO-8859-1 VIEW (Latin-1 is a bijective byte↔char map, so
    * char position == byte position — the standard trick for scanning
    * ASCII-region structure in unknown-encoding bytes), and only the
    * detected charset's decoder touches the body.
    *
    * Synthesis (mm6/tx21 discipline), one response blob per document in
    * five cohorts by doc_id % 5: (0) `charset=iso-8859-1` declared in
    * the header, body genuinely Latin-1 (ü/ß/ö bytes that are NOT valid
    * UTF-8 sequences); (1) bare header, `<meta charset="utf-8">`, body
    * UTF-8; (2) no declaration at all, body UTF-16 with the big-endian
    * BOM (Greek text, unrepresentable in Latin-1 — a fake byte-view
    * decode cannot reproduce it); (3) `charset=windows-1252` declared
    * in the header, body carrying cp1252 0x80-block bytes (€ – „ “)
    * whose Latin-1 reading is C1 controls — only the genuine cp1252
    * translate table reproduces the text; (4) no declaration, body
    * UTF-16LE behind the FF FE little-endian BOM (Cyrillic — the
    * Windows-native crawl shape the r17 decoder silently mojibake'd,
    * review r18). The oracle restates charset, detection route, the
    * decoded <h1>, the decoded char count, and the PAYLOAD BYTE count —
    * whose arithmetic differs per charset (Latin-1/cp1252: bytes =
    * chars; UTF-8: bytes = strlen; UTF-16 either endianness: 2 +
    * 2·chars) — so the hash proves a genuine per-charset encode/decode
    * round-trip, not a string pass-through.
    *
    * Scale posture: pure map-side byte/regex work over the payload
    * scan, zero shuffles before the gate sort — the same first-
    * projection slot as warc1; the Latin-1 view adds one linear decode
    * (no copy amplification beyond the decoded string itself).
    */
  private def warcCharset(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val cohort = col("doc_id") % 5
    val title = when(cohort === 0, concat(lit("Füße größer Nr "), id))
      .when(cohort === 1, concat(lit("Zürich § Nr "), id))
      .when(cohort === 2, concat(lit("Ωμέγα δ Nr "), id))
      .when(cohort === 3, concat(lit("Preis €9 – „Start“ Nr "), id))
      .otherwise(concat(lit("Кириллица Ё Nr "), id))
    val meta = when(cohort === 1, lit("<meta charset=\"utf-8\">")).otherwise(lit(""))
    val html = concat(lit("<html><head>"), meta,
      lit("</head><body><h1>"), title, lit("</h1></body></html>"))
    val payload = when(cohort === 0, expr("encode(html, 'ISO-8859-1')"))
      .when(cohort === 1, expr("encode(html, 'UTF-8')"))
      // Java's UTF-16 encoder emits the big-endian BOM — the cohort's
      // only charset signal
      .when(cohort === 2, expr("encode(html, 'UTF-16')"))
      // the translate inverse + Latin-1 encode IS the cp1252 encoder
      // (see Cp1252Hi) — Spark's encode() refuses the name directly
      .when(cohort === 3, encode(
        translate(expr("html"), Cp1252Hi._2, Cp1252Hi._1), "ISO-8859-1"))
      // UTF-16LE emits no BOM in Java; plant the FF FE mark explicitly
      .otherwise(concat(lit(Array[Byte](0xFF.toByte, 0xFE.toByte)),
        expr("encode(html, 'UTF-16LE')")))
    val header = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html"),
      when(cohort === 0, lit("; charset=iso-8859-1"))
        .when(cohort === 3, lit("; charset=windows-1252"))
        .otherwise(lit("")),
      lit("\r\nContent-Length: "), octet_length(col("payload")).cast("string"),
      lit("\r\n\r\n"))
    val blobs = t(s, dir, "documents")
      .select(col("doc_id"), html.as("html"))
      .withColumn("payload", payload)
      .withColumn("header", header) // pure ASCII: its UTF-8 bytes ARE its bytes
      .select(col("doc_id"),
        concat(expr("cast(header as binary)"), col("payload")).as("blob"))
    decodeHttpCharset(blobs).orderBy(col("doc_id").asc_nulls_first)
  }

  /** windows-1252's 0x80–0x9F block differs from Latin-1's C1 controls
    * in 27 positions (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ‘ ’ “ ” • – — ˜ ™ š › œ
    * ž Ÿ); Spark's decode()/encode() refuse the cp1252 name (charset
    * allow-list), so the byte-faithful Latin-1 view + a 27-entry
    * `translate` IS the windows-1252 decoder — and the reversed
    * translate + Latin-1 encode its encoder. Pairs are computed from
    * the JVM's own Cp1252 table so the mapping cannot drift from
    * java.nio (the five undefined bytes 81/8D/8F/90/9D pass through
    * as their C1 controls, matching Java's lenient decoder).
    */
  private[graft] val Cp1252Hi: (String, String) = {
    val cs = java.nio.charset.Charset.forName("windows-1252")
    val pairs = (0x80 to 0x9F).flatMap { b =>
      val c = new String(Array(b.toByte), cs).charAt(0)
      if (c != b.toChar) Some((b.toChar, c)) else None
    }
    (pairs.map(_._1).mkString, pairs.map(_._2).mkString)
  }

  /** Detector + decoder over any (doc_id, blob binary) frame — package-
    * visible for the spec's adversarial corners (header overriding a
    * CONFLICTING meta, uppercase/quoted charset spellings, undeclared
    * pure-ASCII defaulting to UTF-8, BOM on an otherwise-declared body,
    * little-endian BOMs, cp1252 smart-quote round-trips, and declared-
    * but-unsupported charsets). Both byte-order marks are recognized
    * (FE FF big-endian, FF FE little-endian — Java's UTF-16 decoder
    * honors either and strips it); a declared charset outside the
    * supported set decodes via the UTF-8 default AND says so in `via`
    * (`…+utf8-fallback`) — the charset column reports what was
    * DETECTED, via reports which decoder actually ran, so neither
    * column lies when they diverge (review r18).
    */
  private[graft] def decodeHttpCharset(blobs: DataFrame): DataFrame = {
    val lat = expr("decode(blob, 'ISO-8859-1')") // byte-faithful view
    val parsed = blobs
      .withColumn("sep", instr(lat, "\r\n\r\n"))
      .withColumn("hdr", expr("substring(decode(blob, 'ISO-8859-1'), 1, sep - 1)"))
      .withColumn("bodyBin", expr("substring(blob, sep + 4)"))
      .withColumn("bodyLat", expr("decode(bodyBin, 'ISO-8859-1')"))
      .withColumn("hdrCs",
        upper(regexp_extract(col("hdr"), "(?i)charset=\"?([A-Za-z0-9_\\-]+)", 1)))
      .withColumn("metaCs",
        upper(regexp_extract(col("bodyLat"),
          "(?i)<meta\\s+charset=\"?([A-Za-z0-9_\\-]+)", 1)))
      .withColumn("hasBom",
        (expr("substring(bodyBin, 1, 2)") ===
          lit(Array[Byte](0xFE.toByte, 0xFF.toByte))) ||
        (expr("substring(bodyBin, 1, 2)") ===
          lit(Array[Byte](0xFF.toByte, 0xFE.toByte))))
      .withColumn("charset",
        when(col("hdrCs") =!= "", col("hdrCs"))
          .when(col("metaCs") =!= "", col("metaCs"))
          .when(col("hasBom"), lit("UTF-16"))
          .otherwise(lit("UTF-8")))
      .withColumn("supported", col("charset").isin(
        "ISO-8859-1", "LATIN-1", "LATIN1", "US-ASCII",
        "WINDOWS-1252", "UTF-16", "UTF-16BE", "UTF-16LE", "UTF-8"))
      .withColumn("via",
        concat(
          when(col("hdrCs") =!= "", lit("header"))
            .when(col("metaCs") =!= "", lit("meta"))
            .when(col("hasBom"), lit("bom"))
            .otherwise(lit("default")),
          when(col("supported"), lit("")).otherwise(lit("+utf8-fallback"))))
      .withColumn("decoded",
        when(col("charset").isin("ISO-8859-1", "LATIN-1", "LATIN1", "US-ASCII"),
          col("bodyLat"))
          .when(col("charset") === "WINDOWS-1252",
            translate(col("bodyLat"), Cp1252Hi._1, Cp1252Hi._2))
          .when(col("charset") === "UTF-16", expr("decode(bodyBin, 'UTF-16')"))
          .when(col("charset") === "UTF-16BE", expr("decode(bodyBin, 'UTF-16BE')"))
          .when(col("charset") === "UTF-16LE", expr("decode(bodyBin, 'UTF-16LE')"))
          .otherwise(expr("decode(bodyBin, 'UTF-8')")))
    parsed.select(
      col("doc_id"), col("charset"), col("via"),
      regexp_extract(col("decoded"), "<h1>([^<]*)</h1>", 1).as("h1"),
      length(col("decoded")).cast("long").as("n_chars"),
      octet_length(col("bodyBin")).cast("long").as("n_payload_bytes"))
  }

  private val warcCharsetSql =
    """WITH h AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 5 AS INT)
      |      WHEN 0 THEN '<html><head></head><body><h1>Füße größer Nr '
      |        || doc_id || '</h1></body></html>'
      |      WHEN 1 THEN '<html><head><meta charset="utf-8"></head><body><h1>Zürich § Nr '
      |        || doc_id || '</h1></body></html>'
      |      WHEN 2 THEN '<html><head></head><body><h1>Ωμέγα δ Nr '
      |        || doc_id || '</h1></body></html>'
      |      WHEN 3 THEN '<html><head></head><body><h1>Preis €9 – „Start“ Nr '
      |        || doc_id || '</h1></body></html>'
      |      ELSE '<html><head></head><body><h1>Кириллица Ё Nr '
      |        || doc_id || '</h1></body></html>' END AS html
      |  FROM documents)
      |SELECT doc_id,
      |  CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'ISO-8859-1'
      |    WHEN 1 THEN 'UTF-8' WHEN 2 THEN 'UTF-16'
      |    WHEN 3 THEN 'WINDOWS-1252' ELSE 'UTF-16' END AS charset,
      |  CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'header'
      |    WHEN 1 THEN 'meta' WHEN 2 THEN 'bom'
      |    WHEN 3 THEN 'header' ELSE 'bom' END AS via,
      |  CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'Füße größer Nr ' || doc_id
      |    WHEN 1 THEN 'Zürich § Nr ' || doc_id
      |    WHEN 2 THEN 'Ωμέγα δ Nr ' || doc_id
      |    WHEN 3 THEN 'Preis €9 – „Start“ Nr ' || doc_id
      |    ELSE 'Кириллица Ё Nr ' || doc_id END AS h1,
      |  CAST(length(html) AS BIGINT) AS n_chars,
      |  CAST(CASE CAST(doc_id % 5 AS INT)
      |    WHEN 0 THEN length(html)   -- Latin-1: one byte per char
      |    WHEN 1 THEN strlen(html)   -- UTF-8: the UTF-8 byte count
      |    WHEN 2 THEN 2 + 2 * length(html)  -- UTF-16BE: BOM + 2 bytes per BMP char
      |    WHEN 3 THEN length(html)   -- cp1252: one byte per char, incl the 0x80 block
      |    ELSE 2 + 2 * length(html)  -- UTF-16LE: planted BOM + 2 bytes per BMP char
      |    END AS BIGINT) AS n_payload_bytes
      |FROM h ORDER BY doc_id NULLS FIRST""".stripMargin

  // -------------------------------------------------------------- warc3
  /** Cross-snapshot REVISIT dedup — the WARC rung after charset decode:
    * consecutive crawls of the same URLs mostly refetch unchanged
    * content, and the WARC standard's answer is the `revisit` record —
    * the new crawl stores only a payload DIGEST reference when it
    * matches the previous crawl's digest, an actual `response` record
    * only when content changed. This entry replays that decision over
    * two synthesized snapshots: crawl 2 joins crawl 1 BY URL, compares
    * md5 payload digests computed independently on each side (never the
    * payloads themselves — at crawl scale the old payload is not in
    * memory, only its digest index), classifies each URL
    * revisit/response, and rolls up the host-grain dedup ledger a crawl
    * operator reads: URLs seen, responses stored, revisits deduped,
    * bytes actually fetched-and-stored vs bytes saved by the digest
    * match. Synthesis: every document's URL appears in both snapshots;
    * doc_id % 4 = 1 documents changed between crawls (payload gains a
    * ` updated v2` tail), the rest are byte-identical. The oracle
    * restates the classification and both byte sums arithmetically from
    * doc_id and strlen(text).
    *
    * Scale posture: the digest index join is THE cross-crawl exchange —
    * a keyed equi-join on URL (co-partitionable/bucketed by URL across
    * snapshot tables in production, AQE-coalesced here), with digests
    * computed map-side before the join so the shuffled rows carry a
    * 32-char digest + URL, never the payload; the host rollup is a
    * partial-agg on top. No window, no broadcast of anything
    * corpus-sized.
    */
  private def warcRevisitDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val url = concat(lit("https://site"), (col("doc_id") % 47).cast("string"),
      lit(".example/d/"), col("doc_id").cast("string"))
    val changed = col("doc_id") % 4 === 1
    val crawl1 = docs.select(url.as("url"), md5(col("text").cast("binary")).as("digest1"))
    val crawl2 = docs.select(
      url.as("url"),
      (col("doc_id") % 47).as("hk"),
      when(changed, concat(col("text"), lit(" updated v2")))
        .otherwise(col("text")).as("payload"))
    crawl2
      .join(crawl1, Seq("url"))
      .withColumn("revisit", md5(col("payload").cast("binary")) === col("digest1"))
      .groupBy(concat(lit("site"), col("hk").cast("string"),
        lit(".example")).as("host"))
      .agg(
        count(lit(1)).as("n_urls"),
        sum(when(col("revisit"), 0L).otherwise(1L)).as("n_response"),
        sum(when(col("revisit"), 1L).otherwise(0L)).as("n_revisit"),
        sum(when(col("revisit"), 0L)
          .otherwise(octet_length(col("payload")).cast("long"))).as("fetch_bytes"),
        sum(when(col("revisit"), octet_length(col("payload")).cast("long"))
          .otherwise(0L)).as("saved_bytes"))
      .orderBy(col("host").asc_nulls_first)
  }

  private val warcRevisitDedupSql =
    """SELECT 'site' || (doc_id % 47) || '.example' AS host,
      |  COUNT(*) AS n_urls,
      |  CAST(SUM(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_response,
      |  CAST(SUM(CASE WHEN doc_id % 4 = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_revisit,
      |  CAST(SUM(CASE WHEN doc_id % 4 = 1
      |    THEN strlen(text || ' updated v2') ELSE 0 END) AS BIGINT) AS fetch_bytes,
      |  CAST(SUM(CASE WHEN doc_id % 4 = 1 THEN 0 ELSE strlen(text) END) AS BIGINT) AS saved_bytes
      |FROM documents
      |GROUP BY 1 ORDER BY host NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- tok5
  /** BPE training GENERALIZED to an N-merge convergence loop (r16
    * VERDICT #4): tok1's trainer is unrolled at 5 merges; a production
    * tokenizer iterates to a target vocabulary and STOPS when no pair
    * clears the minimum frequency. This entry runs the same
    * vocabulary-grain trainer ([[bpeMergesOver]]'s exact pair-count /
    * winner-pick / double-space merge semantics) as a driver loop to
    * [[Tok5MaxMerges]] merges with min pair frequency [[Tok5MinFreq]],
    * emitting one row per LEARNED merge. Two changes earn the scale:
    * the winning pair is COLLECTED (1 row) per iteration, so the merge
    * projection embeds it as a literal instead of re-running the pair
    * count a second time per pass, and the convergence check is that
    * same collect — empty winner → stop. Each pass localCheckpoints
    * the vocab frame (the ConnectedComponents lineage posture).
    *
    * The oracle unrolls all [[Tok5MaxMerges]] iterations CTE-for-CTE
    * with the min-frequency WHERE inside each winner pick and a LEFT
    * JOIN carry (an empty winner leaves the vocabulary unchanged), so
    * it is exact whether or not training converges early; the gate
    * corpus learns all N, and TextCensusSpec pins early convergence on
    * a micro-corpus that saturates first.
    *
    * Scale posture: tok1's exactly — one corpus explode+groupBy
    * compresses to the (word, count) vocabulary, then every pass is
    * vocabulary-grain with map-side combine; the driver touches one
    * winner row per pass (the ann2-codebook class of driver data).
    */
  private val Tok5MaxMerges = 16
  private val Tok5MinFreq = 2L

  private[graft] def bpeMergesConverging(docs: DataFrame, maxIters: Int,
      minFreq: Long): DataFrame = {
    val s = docs.sparkSession
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(
        concat(lit(" "), rtrim(regexp_replace(col("w"), "(.)", "$1  ")), lit(" "))
          .as("syms"),
        col("c"))
    var seqs = vocab.localCheckpoint()
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var i = 1
    var converged = false
    while (i <= maxIters && !converged) {
      val top = seqs
        .withColumn("sy", split(trim(col("syms")), "  "))
        .select(col("c"), explode(expr(
          "zip_with(slice(sy, 1, size(sy) - 1), slice(sy, 2, size(sy) - 1), " +
            "(a, b) -> struct(a AS pa, b AS pb))")).as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum("c").as("n"))
        .filter(col("n") >= minFreq)
        .orderBy(col("n").desc, col("pa").asc, col("pb").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) converged = true
      else {
        val (pa, pb, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((i.toLong, pa, pb, n))
        seqs = seqs
          .select(
            replace(col("syms"), lit(s" $pa  $pb "), lit(s" $pa$pb ")).as("syms"),
            col("c"))
          .localCheckpoint()
      }
      i += 1
    }
    import s.implicits._
    learned.toSeq.toDF("merge_rank", "pa", "pb", "n_occurrences")
      .orderBy(col("merge_rank").asc_nulls_first)
  }

  private def bpeConverged(s: SparkSession, dir: String): DataFrame =
    bpeMergesConverging(t(s, dir, "documents"), Tok5MaxMerges, Tok5MinFreq)

  private val bpeConvergedSql = {
    // CTEs are MATERIALIZED: with plain inlining each level references
    // its predecessor twice (winner pick + merge apply), so a 16-level
    // chain expands 2^16 scans — DuckDB dies on open file handles at
    // the depth tok1's 5 levels never reached
    def iter(i: Int): String =
      s"""p$i AS MATERIALIZED (
         |  SELECT u.pa AS pa, u.pb AS pb, SUM(c) AS n FROM (
         |    SELECT c, unnest(list_transform(range(1, len(sy)),
         |      j -> {'pa': sy[j], 'pb': sy[j + 1]})) AS u
         |    FROM (SELECT string_split(trim(syms), '  ') AS sy, c FROM s${i - 1}))
         |  GROUP BY u.pa, u.pb),
         |t$i AS MATERIALIZED (SELECT pa, pb, n FROM p$i WHERE n >= $Tok5MinFreq
         |        ORDER BY n DESC, pa, pb LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT CASE WHEN t.pa IS NULL THEN syms
         |         ELSE replace(syms, ' ' || t.pa || '  ' || t.pb || ' ',
         |                      ' ' || t.pa || t.pb || ' ') END AS syms, c
         |  FROM s${i - 1} LEFT JOIN t$i t ON TRUE)""".stripMargin
    val iters = (1 to Tok5MaxMerges).map(iter).mkString(",\n")
    val out = (1 to Tok5MaxMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, pa, pb, CAST(n AS BIGINT) AS n_occurrences FROM t$i")
      .mkString("\nUNION ALL ")
    s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |v AS (SELECT w, COUNT(*) AS c FROM w
       |      WHERE regexp_matches(w, '^[a-z]+${"$"}') GROUP BY w),
       |s0 AS (SELECT ' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS syms, c
       |       FROM v),
       |$iters
       |$out
       |ORDER BY merge_rank NULLS FIRST""".stripMargin
  }

  override val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx21_html_extract" -> (htmlExtract _),
    "warc1_record_extract" -> (warcExtract _),
    "warc2_charset_decode" -> (warcCharset _),
    "tx22_compression_ratio" -> (compressionRatio _),
    "url1_canonical_dedup" -> (urlCanonicalDedup _),
    "url2_robots_filter" -> (robotsFilter _),
    "url3_sitemap_frontier" -> (sitemapFrontier _),
    "warc3_revisit_dedup" -> (warcRevisitDedup _),
    "tx23_quality_calibration" -> (qualityCalibration _),
    "tx24_ocr_artifacts" -> (ocrArtifacts _),
    "tok5_bpe_converged" -> (bpeConverged _),
    "tok6_fertility" -> (bpeFertility _),
    "cur4_dataset_card" -> (datasetCard _),
    "tx16_pmi_collocations" -> (pmiCollocations _),
    "tx17_boilerplate" -> (boilerplateCensus _),
    "tx18_unicode_nfc" -> (unicodeNfcPass _),
    "tok1_bpe_merges" -> (bpeMerges _),
    "tok2_bpe_segment" -> (bpeApply _),
    "tok3_vocab_coverage" -> (vocabCoverage _),
    "tok4_byte_fallback" -> (byteFallback _),
    "tx15_mixed_lang" -> (mixedLang _),
    "tx20_char_diversity" -> (charDiversity _),
    "tx14_bigram_familiarity" -> (bigramFamiliarity _),
    "tx19_conditional_surprise" -> (conditionalSurprise _),
    "tx13_rarity_score" -> (rarityScore _),
    "cur2_curation_v2" -> (curationV2 _),
    "tx11_zipf_coverage" -> (zipfCoverage _),
    "tx12_repetition" -> (repetition _),
    "red1_pii_redact" -> (piiRedact _),
    "red2_luhn_audit" -> (luhnAudit _),
    "tx10_tfidf" -> (tfidf _),
    "tx9_pack" -> (pack _),
    "tx8_chunking" -> (chunk _),
    "tx7_census_hll" -> (langStatsApprox _),
    "tx6_top_bigrams" -> (topBigrams _),
    "tx1_token_stats" -> (tokenStats _),
    "tx2_quality_score" -> (quality _),
    "tx3_lang_id" -> (langId _),
    "tx4_fingerprint" -> (fingerprint _),
    "tx5_lang_rollup" -> (langStats _))

  override val oracle: Map[String, String] = Map(
    "tx21_html_extract" -> htmlExtractSql,
    "warc1_record_extract" -> warcExtractSql,
    "warc2_charset_decode" -> warcCharsetSql,
    "tx22_compression_ratio" -> compressionRatioSql,
    "url1_canonical_dedup" -> urlCanonicalDedupSql,
    "url2_robots_filter" -> robotsFilterSql,
    "url3_sitemap_frontier" -> sitemapFrontierSql,
    "warc3_revisit_dedup" -> warcRevisitDedupSql,
    "tx23_quality_calibration" -> qualityCalibrationSql,
    "tx24_ocr_artifacts" -> ocrArtifactsSql,
    "tok5_bpe_converged" -> bpeConvergedSql,
    "tok6_fertility" -> bpeFertilitySql,
    "cur4_dataset_card" -> datasetCardSql,
    "tx16_pmi_collocations" -> pmiCollocationsSql,
    "tx17_boilerplate" -> boilerplateCensusSql,
    "tx18_unicode_nfc" -> unicodeNfcPassSql,
    "tok1_bpe_merges" -> bpeMergesSql,
    "tok2_bpe_segment" -> bpeApplySql,
    "tok3_vocab_coverage" -> vocabCoverageSql,
    "tok4_byte_fallback" -> byteFallbackSql,
    "tx15_mixed_lang" -> mixedLangSql,
    "tx20_char_diversity" -> charDiversitySql,
    "tx14_bigram_familiarity" -> bigramFamiliaritySql,
    "tx19_conditional_surprise" -> conditionalSurpriseSql,
    "tx13_rarity_score" -> rarityScoreSql,
    "cur2_curation_v2" -> curationV2Sql,
    "tx11_zipf_coverage" -> zipfCoverageSql,
    "tx12_repetition" -> repetitionSql,
    "red1_pii_redact" -> piiRedactSql,
    "red2_luhn_audit" -> luhnAuditSql,
    "tx10_tfidf" -> tfidfSql,
    "tx9_pack" -> packSql,
    "tx8_chunking" -> chunkSql,
    "tx6_top_bigrams" -> topBigramsSql,
    "tx1_token_stats" -> tokenStatsSql,
    "tx2_quality_score" -> qualitySql,
    "tx3_lang_id" -> langIdSql,
    "tx4_fingerprint" -> fingerprintSql,
    "tx5_lang_rollup" -> langStatsSql,
    "tx7_census_hll" -> langStatsApproxSql)
}
