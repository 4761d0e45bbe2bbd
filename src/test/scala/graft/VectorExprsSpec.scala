package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions

/** The codegen vector kernels must agree exactly with their HOF
  * spellings, survive nulls, and resolve from SQL after registration.
  */
class VectorExprsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
    (2L, Seq(-7L, 0L, 2L), Seq(3L, 9L, -1L)),
    (3L, null.asInstanceOf[Seq[Long]], Seq(1L, 2L, 3L))).toDF("id", "a", "b")

  test("long_dot equals the HOF spelling and is null-safe") {
    val out = df.select(
      $"id",
      VectorFunctions.longDot($"a", $"b").as("kernel"),
      aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0L), (s, v) => s + v).as("hof"))
      .orderBy("id").collect()
    assert(out(0).getLong(1) == 32L && out(0).getLong(1) == out(0).getLong(2))
    assert(out(1).getLong(1) == -23L && out(1).getLong(1) == out(1).getLong(2))
    assert(out(2).isNullAt(1) && out(2).isNullAt(2))
  }

  test("long_sq_l2 equals the HOF spelling") {
    val out = df.filter($"a".isNotNull).select(
      VectorFunctions.longSquaredL2($"a", $"b").as("kernel"),
      aggregate(zip_with($"a", $"b", (x, y) => (x - y) * (x - y)), lit(0L), (s, v) => s + v).as("hof"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("simhash64 equals the interpreted-HOF spelling") {
    // the oracle's construction: md5-hex nibbles over two digests per
    // word (plain for bits 0..31, '1'-salted for 32..63), 64 aggregate
    // folds, bit set iff the signed count is positive
    val highNibble = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    def hofBit(hsCol: String, i: Int, base: Int) =
      when(
        aggregate(
          transform(col(hsCol), h => when(substring(h, i + 1, 1).isin(highNibble: _*), 1).otherwise(-1)),
          lit(0),
          (acc, x) => acc + x) > 0,
        lit(1L << (base + i))).otherwise(lit(0L))
    def hofAll = ((0 until 32).map(hofBit("h0", _, 0)) ++
      (0 until 32).map(hofBit("h1", _, 32))).reduce(_ + _)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", split($"text", " ").as("words"))
      .withColumn("h0", transform($"words", w => md5(w)))
      .withColumn("h1", transform($"words", w => md5(concat(w, lit("1")))))
    val out = docs.select(
      VectorFunctions.simhash64($"words").as("kernel"),
      hofAll.as("hof")).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // interpreted path (eval) must agree with codegen: exercised via a
    // local relation, which Spark evaluates eagerly without codegen
    val local = Seq((1L, Seq("hello", "world")), (2L, Seq("\u0441\u043f\u0430\u0440\u043a", "\u043f\u043e\u0442\u043e\u043a", "\u0441\u043f\u0430\u0440\u043a")))
      .toDF("id", "words")
    val kernelLocal = local.select($"id", VectorFunctions.simhash64($"words").as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hofLocal = local
      .withColumn("h0", transform($"words", w => md5(w)))
      .withColumn("h1", transform($"words", w => md5(concat(w, lit("1")))))
      .select($"id", hofAll.as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernelLocal == hofLocal)
  }

  test("simhash64 propagates a null array; the dd3 call site coalesces to the oracle's 0") {
    val df = Seq(Tuple1(null.asInstanceOf[Seq[String]])).toDF("words")
    val out = df.select(
      VectorFunctions.simhash64($"words").as("k"),
      coalesce(VectorFunctions.simhash64($"words"), lit(0L)).as("c")).collect()(0)
    assert(out.isNullAt(0) && out.getLong(1) == 0L)
  }

  test("minhash_sigs equals the K-pass HOF spelling it replaced, incl. the empty set") {
    val K = 12
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", when(size($"w") >= 3,
        array_distinct(transform(sequence(lit(1), size($"w") - 2),
          i => array_join(slice($"w", i, lit(3)), " ")))).otherwise(array()).as("shingles"))
    val hof = (0 until K).map(k =>
      array_min(transform($"shingles", x => md5(concat(lit(s"$k:"), x)))))
    val out = docs.select(
      VectorFunctions.minhashSigs($"shingles", K).as("kernel"),
      array(hof: _*).as("hof")).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // empty shingle set → all-null minima, exactly array_min([])
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("shingles")
      .select(VectorFunctions.minhashSigs($"shingles", 3)).collect()
    assert(empty(0).getSeq[String](0) == Seq(null, null, null))
  }

  test("ngram_md5 equals the distinct-transform-md5 HOF spelling it replaced") {
    val n = 4
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= n)
    val hof = array_distinct(transform(
      sequence(lit(1), size($"w") - (n - 1)),
      i => md5(array_join(slice($"w", i, lit(n)), " "))))
    val out = docs.select(
      VectorFunctions.ngramMd5($"w", n).as("kernel"), hof.as("hof")).collect()
    assert(out.nonEmpty)
    // array_distinct keeps first occurrence — the kernel must match
    // element-for-element, not just as a set
    out.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // under-length input → empty set (callers filter, but the contract
    // must not depend on that; the HOF's sequence(1,0) would step BACKWARD)
    val short = Seq(Tuple1(Seq("a", "b"))).toDF("w")
      .select(VectorFunctions.ngramMd5($"w", 4)).collect()
    assert(short(0).getSeq[String](0).isEmpty)
    // null elements are skipped WITH their delimiter, like array_join:
    // any array<string> column reaches the kernel, not only split()'s
    val withNull = Seq(Tuple1(Seq[String]("a", null, "b"))).toDF("w")
      .select(
        VectorFunctions.ngramMd5($"w", 2).as("kernel"),
        array_distinct(transform(sequence(lit(1), size($"w") - 1),
          i => md5(array_join(slice($"w", i, lit(2)), " ")))).as("hof"))
      .collect()
    assert(withNull(0).getSeq[String](0) == withNull(0).getSeq[String](1))
  }

  test("bloom_might_contain: no false negatives, fpp-bounded false positives, null-safe") {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    (0 until 1000).foreach(i => bf.putBinary(s"member-$i".getBytes("UTF-8")))
    val bytes = { val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray }
    val members = (0 until 1000).map(i => s"member-$i")
    val strangers = (0 until 10000).map(i => s"stranger-$i")
    val probe = (members ++ strangers).map(Option(_)).:+(None.asInstanceOf[Option[String]])
      .toDF("s")
    val got = probe
      .select($"s", graft.functions.VectorFunctions.bloomMightContain($"s", bytes).as("hit"))
      .collect().map(r => Option(r.getAs[String]("s")) -> Option(r.get(1))).toMap
    members.foreach(m => assert(got(Some(m)) == Some(true), s"false negative on $m"))
    assert(got(None).isEmpty, "null input must yield null")
    val fp = strangers.count(s => got(Some(s)) == Some(true))
    assert(fp <= 300, s"$fp false positives out of 10000 at fpp=0.01") // 3% headroom on 1%
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    // fixture-scale exhaustive check over real shingle lists: every pair
    // of docs' sorted distinct trigram sets must agree with the built-in
    val sh = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", array_sort(array_distinct(
        transform(sequence(lit(1), size(split($"text", " ")) - 2),
          i => array_join(slice(split($"text", " "), i, lit(3)), " ")))).as("s"))
      .filter(size($"s") > 0).limit(60)
    val pairs = sh.as("x").crossJoin(sh.as("y"))
      .select(
        VectorFunctions.sortedIntersectCount($"x.s", $"y.s").as("kernel"),
        size(array_intersect($"x.s", $"y.s")).cast("long").as("builtin"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"kernel ${r.getLong(0)} != builtin ${r.getLong(1)}"))
    // edge cases: empty / disjoint / identical / null
    val edge = Seq(
      (Seq.empty[String], Seq("a", "b")),
      (Seq("a", "c"), Seq("b", "d")),
      (Seq("a", "b", "c"), Seq("a", "b", "c")),
      (null.asInstanceOf[Seq[String]], Seq("a"))).toDF("a", "b")
    val out = edge.select(VectorFunctions.sortedIntersectCount($"a", $"b")).collect()
    assert(out(0).getLong(0) == 0L && out(1).getLong(0) == 0L && out(2).getLong(0) == 3L)
    assert(out(3).isNullAt(0))
  }

  test("kernels participate in whole-stage codegen (no fallback)") {
    // needs a file-backed scan: a local Seq collapses to an eagerly
    // evaluated LocalTableScan with no codegen stage to observe
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("long")).as("q"))
    val qe = emb.select(VectorFunctions.longDot($"q", $"q")).queryExecution
    val formatted = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    // the long_dot Project carries a codegen id; the HOF transform Project
    // above it does not (HOFs evaluate interpreted — the kernel's reason)
    val dotSection = formatted.linesIterator.find(l => l.contains("Project") && l.contains("codegen id"))
    assert(dotSection.isDefined, s"no codegen'd Project in:\n$formatted")
    // cdc_segments likewise: its Project must sit inside a codegen stage
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(split($"text", " ").as("w"))
    val segFmt = docs.select(VectorFunctions.cdcSegments($"w", 4)).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(segFmt.linesIterator.exists(l => l.contains("Project") && l.contains("codegen id")),
      s"no codegen'd Project for cdc_segments in:\n$segFmt")
  }

}
