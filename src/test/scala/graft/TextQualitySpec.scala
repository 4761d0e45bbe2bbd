package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side recomputation pins for the round-6 text-quality battery:
  * tx11 (Zipf coverage), tx12 (repetition signals), red1 (PII redaction).
  * Each test independently recomputes the quantity in plain Scala over
  * the same fixture corpus and compares row-for-row — a second
  * implementation in a different paradigm, complementing the DuckDB
  * oracle (which is itself a third).
  */
class TextQualitySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.01"

  private def docs: Seq[(Long, String, String)] =
    SparkEntry.configure(spark).read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  test("tx21: extraction strips structure, decodes entities, and the census drops planted boilerplate") {
    import spark.implicits._
    // hand-written pages: nav + footer identical in ALL docs (df 100% →
    // dropped), body lines unique (kept); a script whose BODY contains
    // markup must vanish whole; <br> and an un-closed-before-<div>
    // run of text must still line-break; entities decode AFTER tag strip
    val pages = (1 to 10).map { i =>
      (i.toLong,
        "<html><head><title>t</title><style>p{x:1}</style></head><body>" +
          "<nav>Site Nav</nav>" +
          "<script>if (1 < 2) { alert('<p>not text</p>'); }</script>" +
          s"<h2>Body $i</h2><p>alpha&nbsp;beta &amp;&lt;&gt; line $i</p>" +
          s"<br>after break $i<div>All rights reserved</div></body></html>")
    }.toDF("doc_id", "html")
    val out = graft.queries.Text.extractHtml(pages).orderBy("doc_id").collect()
    assert(out.length == 10)
    out.zipWithIndex.foreach { case (r, ix) =>
      val i = ix + 1
      assert(r.getAs[Long]("n_kept") == 3L, s"doc $i kept: $r")
      assert(r.getAs[Long]("n_boiler_dropped") == 2L, s"doc $i dropped: $r")
      assert(r.getAs[String]("extracted") ==
        s"Body $i\nalpha beta &<> line $i\nafter break $i", s"doc $i text: $r")
    }
  }

  test("warc1: length framing survives payloads containing record magic and blank lines") {
    import spark.implicits._
    def record(wtype: String, uri: String, payload: String): String =
      "WARC/1.0\r\nWARC-Type: " + wtype + "\r\nWARC-Target-URI: " + uri +
        "\r\nContent-Length: " + payload.getBytes("UTF-8").length +
        "\r\n\r\n" + payload + "\r\n\r\n"
    // the request payload embeds a FAKE record header (pointing at
    // /doc/99) plus blank lines — a delimiter-split parser would latch
    // onto it, and the doc_id/h1 asserts below would read 99/garbage;
    // the Content-Length walk must skip exactly past it. The html
    // carries a MULTI-BYTE char ('é'), so char-positional slicing
    // (instead of byte-true) would mis-frame everything downstream.
    val trap = "GET /x HTTP/1.1\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://h.example/doc/99\r\nContent-Length: 0\r\n\r\nnot a record"
    val html = "<html><body><h1>Doc 42</h1><p>café crème alpha</p></body></html>"
    val http = s"HTTP/1.1 200 OK\r\nContent-Length: ${html.getBytes("UTF-8").length}\r\n\r\n$html"
    val good = record("request", "https://h.example/doc/42", trap) +
      record("response", "https://h.example/doc/42", http)
    // corrupt framing: response declares 5 bytes too few — the length
    // cross-check must flip, not silently mis-slice
    val shortLen = good.replace(
      s"Content-Length: ${http.getBytes("UTF-8").length}\r\n\r\nHTTP/1.1",
      s"Content-Length: ${http.getBytes("UTF-8").length - 5}\r\n\r\nHTTP/1.1")
    def one(blob: String) = graft.queries.Text.parseWarcResponse(
      Seq(blob).toDF("warc")).collect()(0)
    val ok = one(good)
    assert(ok.getAs[Long]("doc_id") == 42L,
      "wrong record selected (or mis-framed): doc_id should come from the real response URI")
    assert(ok.getAs[String]("warc_type") == "response")
    assert(ok.getAs[Int]("http_status") == 200)
    assert(ok.getAs[Boolean]("warc_len_ok"), "byte-true framing must validate the good blob")
    assert(ok.getAs[Boolean]("http_len_ok"))
    assert(ok.getAs[String]("h1") == "Doc 42")
    val bad = one(shortLen)
    assert(!bad.getAs[Boolean]("warc_len_ok"),
      "a corrupt declared length must flip the framing flag")
  }

  test("url1: canonicalization corners — userinfo, ports, tracking params, empty paths, IDN") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      // userinfo stripped, case folded, default port stripped, fragment
      // dropped, tracking params dropped, params sorted, path case KEPT
      ("HTTP://User:Pw@Sub.Host.COM:80/A/B?z=1&utm_source=s&y#f",
        "http://sub.host.com/A/B?y&z=1"),
      ("https://x.com", "https://x.com/"), // bare host → root path
      ("https://x.com:8443/p", "https://x.com:8443/p"), // non-default port KEPT
      ("http://x.com:8080/", "http://x.com:8080/"),
      ("https://xn--bcher-kva.example/p?", "https://xn--bcher-kva.example/p"),
      ("https://x.com/p?utm_source=a&fbclid=z&gclid=q#only", "https://x.com/p"),
      ("https://x.com/p?b=2&a=1&a=0", "https://x.com/p?a=0&a=1&b=2"))
    val got = cases.map(_._1).toDF("raw")
      .select(col("raw"), graft.queries.Text.canonicalUrl(col("raw")).as("canon"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (raw, want) =>
      assert(got(raw) == want, s"canonical($raw) = ${got(raw)}, want $want")
    }
    // PLD: longest suffix wins; a bare suffix or unknown TLD is NOT
    // registrable; nested subdomains collapse to registrable grain
    val suffixes = Seq("uk", "co.uk", "com").toDF("suffix")
    val hosts = Seq("sub.host.co.uk", "host.co.uk", "co.uk", "x.com", "weird.zz")
      .toDF("host")
    val plds = graft.queries.Text.pldOf(hosts, suffixes)
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(plds("sub.host.co.uk") == Some("host.co.uk"))
    assert(plds("host.co.uk") == Some("host.co.uk"))
    assert(plds("co.uk").isEmpty, "a bare public suffix is not registrable")
    assert(plds("x.com") == Some("x.com"))
    assert(plds("weird.zz").isEmpty, "unknown TLD matches no suffix")
    // full PSL semantics on the publicsuffix.org canonical shapes:
    // wildcard (*.jp/*.ck — every direct child is itself a public
    // suffix) and exception (!www.ck — cancels the wildcard)
    val rules = Seq("com", "*.jp", "*.ck", "!www.ck").toDF("suffix")
    val hosts2 = Seq("example.com", "b.example.com", "foo.jp", "b.foo.jp",
      "a.b.foo.jp", "test.ck", "b.test.ck", "a.b.test.ck", "www.ck",
      "a.www.ck", "ck").toDF("host")
    val gotPsl = graft.queries.Text.pldOf(hosts2, rules)
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    val want = Map(
      "example.com" -> Some("example.com"),
      "b.example.com" -> Some("example.com"),
      "foo.jp" -> None, // a wildcard child IS a public suffix
      "b.foo.jp" -> Some("b.foo.jp"),
      "a.b.foo.jp" -> Some("b.foo.jp"),
      "test.ck" -> None,
      "b.test.ck" -> Some("b.test.ck"),
      "a.b.test.ck" -> Some("b.test.ck"),
      "www.ck" -> Some("www.ck"), // the exception cancels *.ck
      "a.www.ck" -> Some("www.ck"),
      "ck" -> None) // the wildcard's own base matches nothing
    want.foreach { case (h, p) =>
      assert(gotPsl(h) == p, s"pld($h) = ${gotPsl(h)}, want $p")
    }
  }

  test("url2: REP corners — group coalescing, case, true ties, empty disallow, no-merge") {
    import spark.implicits._
    val robots = Seq(
      // consecutive UA lines share ONE group; directives case-insensitive;
      // an empty Disallow is allow-all (no rule); true tie: Allow and
      // Disallow of EQUAL length — Allow must win
      ("a.com",
        "# hdr\nUser-agent: other\nUser-agent: graftbot\n" +
          "DISALLOW: /x/\nallow: /y/\nDisallow:\n" +
          "Allow: /t/a/\nDisallow: /t/b/\nDisallow: /z/a/\nAllow: /z/a/\n"),
      // star-only host
      ("b.com", "User-agent: *\nDisallow: /x/\n"),
      // own group REPLACES star — star's /x/ must NOT leak in
      ("c.com", "User-agent: *\nDisallow: /x/\n\nUser-agent: graftbot\nDisallow: /q/\n"))
      .toDF("host", "robots")
    val urls = Seq(
      (1L, "a.com", "/x/page"), (2L, "a.com", "/y/page"), (3L, "a.com", "/free"),
      (4L, "a.com", "/z/a/tie"),
      (5L, "b.com", "/x/page"), (6L, "b.com", "/ok"),
      (7L, "c.com", "/x/page"), (8L, "c.com", "/q/page"),
      (9L, "d.com", "/anything")) // no robots at all → allowed
      .toDF("doc_id", "host", "path")
    val got = graft.queries.Text.robotsDecisions(urls, robots, "graftbot")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("group_used"), r.getAs[String]("matched_rule"),
          r.getAs[Boolean]("allowed")))).toMap
    assert(got(1L) == (("graftbot", "/x/", false)), "coalesced group + upper-case directive")
    assert(got(2L) == (("graftbot", "/y/", true)))
    assert(got(3L) == (("graftbot", "", true)), "no rule matches → allowed")
    assert(got(4L) == (("graftbot", "/z/a/", true)), "equal-length tie → Allow wins")
    assert(got(5L) == (("*", "/x/", false)))
    assert(got(6L) == (("*", "", true)))
    assert(got(7L) == (("graftbot", "", true)), "own group replaces star — /x/ must not leak")
    assert(got(8L) == (("graftbot", "/q/", false)))
    assert(got(9L) == (("*", "", true)), "host without robots defaults to allowed")
  }

  test("warc2: charset detection corners — priority, conflicts, quoting, BOM, default") {
    import spark.implicits._
    import java.nio.charset.{Charset, StandardCharsets}
    def blob(headerCt: String, body: Array[Byte]): Array[Byte] = {
      val hdr = s"HTTP/1.1 200 OK\r\nContent-Type: $headerCt\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n"
      hdr.getBytes(StandardCharsets.US_ASCII) ++ body
    }
    def html(meta: String, title: String) =
      s"<html><head>$meta</head><body><h1>$title</h1></body></html>"
    val utf16 = { // Java 'UTF-16' encoder: big-endian with BOM
      Charset.forName("UTF-16").encode(html("", "Ωμέγα"))
    }
    val utf16Bytes = { val a = new Array[Byte](utf16.remaining()); utf16.get(a); a }
    val cases: Seq[(Long, Array[Byte], (String, String, String))] = Seq(
      // header BEATS a conflicting meta tag: body is really Latin-1
      (1L, blob("text/html; charset=iso-8859-1",
        html("<meta charset=\"utf-8\">", "Füße")
          .getBytes(StandardCharsets.ISO_8859_1)),
        ("ISO-8859-1", "header", "Füße")),
      // quoted charset value in the header
      (2L, blob("text/html; charset=\"utf-8\"",
        html("", "Zürich").getBytes(StandardCharsets.UTF_8)),
        ("UTF-8", "header", "Zürich")),
      // no declarations anywhere, pure ASCII → UTF-8 default
      (3L, blob("text/html", html("", "plain").getBytes(StandardCharsets.US_ASCII)),
        ("UTF-8", "default", "plain")),
      // meta only
      (4L, blob("text/html",
        html("<meta charset=\"utf-8\">", "Zürich").getBytes(StandardCharsets.UTF_8)),
        ("UTF-8", "meta", "Zürich")),
      // BOM only (UTF-16 body, meta regex can't fire through NUL bytes)
      (5L, blob("text/html", utf16Bytes), ("UTF-16", "bom", "Ωμέγα")),
      // header present even WITH a BOM on the body: priority holds
      (6L, blob("text/html; charset=UTF-16", utf16Bytes),
        ("UTF-16", "header", "Ωμέγα")),
      // LITTLE-endian BOM, no declaration: FF FE must be recognized
      // (review r18 — the r17 detector only matched FE FF) and Java's
      // UTF-16 decoder honors it
      (7L, blob("text/html", Array[Byte](0xFF.toByte, 0xFE.toByte) ++
        html("", "Кириллица").getBytes(StandardCharsets.UTF_16LE)),
        ("UTF-16", "bom", "Кириллица")),
      // declared windows-1252 with 0x80-block bytes (€=0x80 “=0x93
      // ”=0x94): the Latin-1 view reads C1 controls — only the genuine
      // cp1252 translate path reproduces the text
      (8L, blob("text/html; charset=windows-1252",
        html("", "Preis €9 “Start”").getBytes(Charset.forName("windows-1252"))),
        ("WINDOWS-1252", "header", "Preis €9 “Start”")),
      // declared-but-unsupported charset: decoded via the UTF-8 default
      // AND the via column says so — charset reports what was DETECTED,
      // via reports which decoder ran (review r18)
      (9L, blob("text/html; charset=shift_jis",
        html("", "ascii only").getBytes(StandardCharsets.US_ASCII)),
        ("SHIFT_JIS", "header+utf8-fallback", "ascii only")))
    val got = graft.queries.Text.decodeHttpCharset(
      cases.map(c => (c._1, c._2)).toDF("doc_id", "blob"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    cases.foreach { case (id, _, want) =>
      assert(got(id) == want, s"case $id: got ${got(id)}, want $want")
    }
    // byte-count proof: the UTF-16 payload is 2 + 2×chars, the Latin-1
    // payload chars == bytes even with non-ASCII present
    val counts = graft.queries.Text.decodeHttpCharset(
      cases.map(c => (c._1, c._2)).toDF("doc_id", "blob"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5)))).toMap
    assert(counts(5L) == ((html("", "Ωμέγα").length.toLong,
      2L + 2L * html("", "Ωμέγα").length)))
    assert(counts(1L)._1 == counts(1L)._2,
      "Latin-1 decode must read one char per byte")
    // the LE payload: BOM + 2 bytes per BMP char, same arithmetic as BE
    assert(counts(7L) == ((html("", "Кириллица").length.toLong,
      2L + 2L * html("", "Кириллица").length)))
    // cp1252: one byte per char even for the 0x80-block punctuation
    assert(counts(8L)._1 == counts(8L)._2,
      "cp1252 decode must read one char per byte")
  }

  test("url3: sitemap parse corners — whitespace, missing lastmod, order independence") {
    import spark.implicits._
    // records deliberately OUT of doc order, whitespace between tags and
    // around values, one record with no <lastmod> at all (protocol:
    // optional) — it must rank BELOW any dated record at equal priority,
    // never be dropped
    val xml = """<?xml version="1.0"?><urlset>
      <url> <loc>https://www.h.example/page/7 </loc> <lastmod> 2025-03-01 </lastmod> <priority>0.5</priority> </url>
      <url><loc>https://www.h.example/page/3</loc><priority>0.5</priority></url>
      <url><loc>https://www.h.example/page/5</loc><lastmod>2025-04-01</lastmod><priority>0.5</priority></url>
      <url><loc>https://www.h.example/page/1</loc><lastmod>2025-01-01</lastmod><priority>0.9</priority></url>
    </urlset>""".replace("\n", " ")
    val got = graft.queries.Text.sitemapRank(Seq(("www.h.example", xml)).toDF("host", "xml"))
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(4), r.getBoolean(5), Option(r.getDate(2)).map(_.toString)))).toMap
    // priority 0.9 first; then the 0.5s by lastmod desc; undated last
    assert(got(1L) == ((1L, true, Some("2025-01-01"))))
    assert(got(5L) == ((2L, true, Some("2025-04-01"))))
    assert(got(7L) == ((3L, true, Some("2025-03-01"))))
    assert(got(3L) == ((4L, true, None)), "missing lastmod ranks last, kept")
  }

  test("tx23: the exact-rational decile equals floor(10*score) over the fixture corpus") {
    // tx23 buckets on integer arithmetic (bit-stable cross-engine where
    // floor-of-float can flip on a boundary ulp); this pins that the
    // integer decile IS tx2's score decile and not a lookalike formula,
    // using both entries' public surfaces
    import org.apache.spark.sql.functions._
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val floatDecile = SparkEntry.queries("tx2_quality_score")(s, dir)
      .select(col("doc_id"),
        least(floor(col("quality_score") * 10), lit(9)).cast("long").as("fd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sw = Seq("a", "the", "data", "key", "row", "value")
    val intDecile = graft.Tables(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n"),
        size(array_distinct(col("w"))).cast("long").as("types"),
        aggregate(transform(col("w"), x => length(x)), lit(0), (a, x) => a + x)
          .cast("long").as("sumlen"),
        size(filter(col("w"), x => x.isin(sw: _*))).cast("long").as("stop"))
      .withColumn("i",
        lit(15L) * col("n") * least(lit(100L), col("n")) +
          lit(1500L) * col("types") +
          lit(125L) * least(lit(8L) * col("n"), col("sumlen")) +
          lit(1000L) * (col("n") - col("stop")))
      .select(col("doc_id"), least(expr("(10 * i) DIV (5000 * n)"), lit(9L)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(intDecile.nonEmpty && intDecile.keySet == floatDecile.keySet)
    val diverged = intDecile.filter { case (id, d) => floatDecile(id) != d }
    assert(diverged.isEmpty, s"decile formulas diverged on ${diverged.take(5)}")
    assert(intDecile.values.toSet.size >= 2, "vacuous: corpus spans one decile")
  }

  test("tok6: fertility totals equal tok2's doc-grain totals, floor 1000 per-mille") {
    // cross-entry consistency: same corpus, same shared trained rules —
    // the language rollup must price exactly the words the doc rollup
    // prices; and a word is never fewer than one subword
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val byLang = SparkEntry.queries("tok6_fertility")(s, dir).collect()
    val byDoc = SparkEntry.queries("tok2_bpe_segment")(s, dir).collect()
    assert(byLang.nonEmpty)
    val langWords = byLang.map(_.getAs[Long]("n_words")).sum
    val langSubs = byLang.map(_.getAs[Long]("n_subwords")).sum
    assert(langWords == byDoc.map(_.getAs[Long]("n_words")).sum)
    assert(langSubs == byDoc.map(_.getAs[Long]("n_subwords")).sum)
    byLang.foreach { r =>
      assert(r.getAs[Long]("fertility_milli") >= 1000L,
        s"fertility below one subword/word for ${r.getAs[String]("lang")}")
    }
  }

  test("tx24: planted artifact cohorts are suspect, clean docs mostly are not") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("tx24_ocr_artifacts")(s, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val planted = rows.keys.filter(_ >= 3000000L)
    assert(planted.nonEmpty, "vacuous: no planted cohort at fixture scale")
    planted.foreach { id =>
      val r = rows(id)
      val src = id - 3000000L // 3M is NOT ≡ 0 (mod 9): test the SOURCE id
      if (src % 9 == 0) { // hyphen cohort:
        // breaks are unconditional evidence — always suspect
        assert(r.getAs[Long]("n_hyphen_breaks") == 2L,
          s"hyphen census wrong for $id: ${r.getAs[Long]("n_hyphen_breaks")}")
        assert(r.getAs[Boolean]("suspect"), s"hyphen doc $id not suspect")
      } else {
        // letter-spacing cohort: the planted 7 singles are DETECTED in
        // every doc, but the ratio verdict legitimately dilutes away in
        // long documents (7 spaced glyphs in 200 words is weak evidence)
        assert(r.getAs[Long]("n_single_letters") >= 7L,
          s"spacing census missed the planted mass for $id")
      }
    }
    assert(planted.exists(id => (id - 3000000L) % 9 == 3 && rows(id).getAs[Boolean]("suspect")),
      "no letter-spaced doc short enough to trip the verdict at fixture scale")
    val cleanNonSuspect = rows.count { case (id, r) =>
      id < 3000000L && !r.getAs[Boolean]("suspect") }
    assert(cleanNonSuspect > 0, "every clean doc tripped the threshold")
  }

  test("tx22: deflate kernel is deterministic, entropy-ordered, and bounded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.deflatedLen
    // deterministic high-entropy text (LCG hex), low-entropy repetition
    var x = 0x9E3779B97F4A7C15L
    val high = (1 to 80).map { _ =>
      x = x * 6364136223846793005L + 1442695040888963407L
      java.lang.Long.toHexString(x)
    }.mkString(" ")
    val low = ("ab " * (high.length / 3)).trim
    val df = Seq(("low", low), ("high", high), ("low2", low), (null, null))
      .toDF("k", "t")
      .select(col("k"), octet_length(col("t")).as("raw"), deflatedLen(col("t")).as("c"))
    val rows = df.collect().map(r => Option(r.getString(0)).getOrElse("null") ->
      (Option(r.get(1)).map(_.asInstanceOf[Int]), Option(r.get(2)).map(_.asInstanceOf[Int]))).toMap
    assert(rows("null") == (None, None), "NULL text must stay NULL")
    val (rawL, cL) = (rows("low")._1.get, rows("low")._2.get)
    val (rawH, cH) = (rows("high")._1.get, rows("high")._2.get)
    assert(rows("low2")._2.get == cL, "same input must deflate to the same size")
    // repetition compresses at least 5x below the incompressible text
    assert(cL.toLong * 5 < cH.toLong, s"low $cL vs high $cH: separation too weak")
    // zlib worst-case ceiling and positivity — the gate's all_sane bound
    Seq((rawL, cL), (rawH, cH)).foreach { case (raw, c) =>
      assert(c > 0 && c <= raw + raw / 100 + 64, s"c=$c out of bounds for raw=$raw")
    }
  }

  test("tx17: boilerplate census replays from raw prefixes; planted copies collide") {
    val s = SparkEntry.configure(spark)
    val out = SparkEntry.queries("tx17_boilerplate")(s, dir).collect()
    assert(out.nonEmpty)
    val prefixes = docs.map { case (id, text, _) =>
      (id, text.split(" ", -1).take(8).mkString(" "))
    }
    val want = prefixes.groupBy(_._2).filter(_._2.size >= 2)
      .map { case (p, ds) => p -> (ds.size.toLong, ds.map(_._1).min) }
    assert(out.length == want.size)
    out.foreach { r =>
      val p = r.getAs[String]("prefix")
      assert(want(p) == ((r.getAs[Long]("n_docs"), r.getAs[Long]("example_doc"))), s"'$p'")
    }
    // exact planted duplicates (identical text) must land in the census
    val dupPrefix = docs.groupBy(_._2).filter(_._2.size >= 2)
    assert(dupPrefix.isEmpty || out.nonEmpty)
  }

  test("tx18: NFC kernel composes/folds correctly and the gate entry is non-vacuous") {
    val s = SparkEntry.configure(spark)
    import s.implicits._
    import graft.functions.VectorFunctions.unicodeNormalize
    import org.apache.spark.sql.functions.col

    // kernel semantics vs java.text.Normalizer on a parquet-backed frame
    // (a local Seq would collapse to an eager LocalTableScan — we want the
    // codegen path; see verify-skill note). Round-trip through a temp file.
    val cases = Seq(
      "plain ascii stays",           // ASCII fast path
      "café composes",    // e + U+0301 -> é
      "already é normalized",   // isNormalized fast path
      "à grave",               // a + U+0300 -> à
      "ﬁ ligature untouched by NFC") // NFC keeps U+FB01; NFKC folds to "fi"
    val tmp = SharedSpark.scratchDir("tx18spec")
    cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      .write.mode("overwrite").parquet(tmp)
    val back = s.read.parquet(tmp)
    val gotNfc = back.select(col("id"), unicodeNormalize(col("t"), "NFC"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val gotNfkc = back.select(col("id"), unicodeNormalize(col("t"), "NFKC"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case (t, i) =>
      assert(gotNfc(i.toLong) ==
        java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC), s"NFC case $i")
      assert(gotNfkc(i.toLong) ==
        java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFKC), s"NFKC case $i")
    }
    assert(gotNfc(1L).contains("é") && !gotNfc(1L).contains("́"))
    assert(gotNfkc(4L).contains("fi") && !gotNfkc(4L).contains("ﬁ"))
    assert(gotNfc(4L).contains("ﬁ")) // NFC does NOT fold compatibility forms
    // a bad form fails at construction, not per row
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.UnicodeNormalize(
        org.apache.spark.sql.GraftShims.expression(col("t")), "NFX")
    }

    // gate entry: %3 / %7 rows compose (shrink), coprime rows untouched
    val out = SparkEntry.queries("tx18_unicode_nfc")(s, dir).collect()
    assert(out.length == docs.length)
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    var changed = 0; var untouched = 0
    docs.foreach { case (id, text, _) =>
      val r = byId(id)
      val decorated = (id % 3 == 0 && text.contains('e')) ||
        (id % 7 == 0 && text.contains('a'))
      if (decorated) {
        changed += 1
        assert(r.getAs[Int]("changed") == 1 &&
          r.getAs[Int]("len_nfc") < r.getAs[Int]("len_raw"), s"doc $id should compose")
      } else {
        untouched += 1
        assert(r.getAs[Int]("changed") == 0 &&
          r.getAs[Int]("len_nfc") == r.getAs[Int]("len_raw"), s"doc $id should pass through")
      }
    }
    assert(changed > 0 && untouched > 0, s"need both populations: $changed / $untouched")
  }

  test("cur4: dataset card ties out to the operators it summarizes") {
    val s = SparkEntry.configure(spark)
    val card = SparkEntry.queries("cur4_dataset_card")(s, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val bySource = docs.groupBy(_._3)
    assert(card.keySet == bySource.keySet)
    // quality column == tx2's own gate decisions, grouped per source
    val keepOf = SparkEntry.queries("tx2_quality_score")(s, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    val srcOf = docs.map(d => d._1 -> d._3).toMap
    val wantQuality = keepOf.toSeq.filter(_._2).groupBy(kv => srcOf(kv._1))
      .view.mapValues(_.size.toLong).toMap
    bySource.foreach { case (src, rows) =>
      val r = card(src)
      assert(r.getAs[Long]("n_docs") == rows.size.toLong)
      val uniq = rows.map(_._2.toLowerCase.trim.replaceAll("\\s+", " ")).distinct.size.toLong
      assert(r.getAs[Long]("n_unique_texts") == uniq, s"$src unique")
      assert(r.getAs[Long]("n_quality") == wantQuality.getOrElse(src, 0L), s"$src quality")
      assert(r.getAs[Long]("sum_tokens") ==
        rows.map(_._2.split(" ", -1).length.toLong).sum, s"$src tokens")
      assert(r.getAs[Long]("dup_ppm") ==
        (rows.size - uniq) * 1000000L / rows.size, s"$src dup rate")
    }
  }

  test("w8: month-over-month growth replays with exact floor semantics") {
    val s = SparkEntry.configure(spark)
    val out = SparkEntry.queries("w8_period_growth")(s, dir).collect()
    assert(out.length > 12, "too few months to exercise the lag")
    assert(out.head.isNullAt(out.head.fieldIndex("growth_ppm")), "first month must be NULL")
    out.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur.getAs[Long]("prev_rev_c") == prev.getAs[Long]("rev_c"))
      val a = BigInt(cur.getAs[Long]("rev_c") - prev.getAs[Long]("rev_c")) * 1000000
      val m = BigInt(prev.getAs[Long]("rev_c"))
      assert(BigInt(cur.getAs[Long]("growth_ppm")) == (a - (((a % m) + m) % m)) / m)
    }
    assert(out.exists(r => !r.isNullAt(r.fieldIndex("growth_ppm")) &&
      r.getAs[Long]("growth_ppm") < 0), "no negative month — sign path untested")
  }

  test("tx14: familiarity and hapax match a plain-Scala recomputation for every document") {
    val got = SparkEntry.queries("tx14_bigram_familiarity")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("familiarity_milli"),
          r.getAs[Long]("hapax_ppm")))).toMap
    // split(" ", -1): Spark's split keeps empty tokens; Scala's default drops them
    val perDoc = docs.map { case (id, text, _) =>
      val w = text.split(" ", -1).toSeq
      id -> (if (w.length >= 2) w.sliding(2).map(_.mkString(" ")).toSeq else Seq.empty[String])
    }
    val counts = perDoc.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val withBigrams = perDoc.filter(_._2.nonEmpty)
    assert(got.size == withBigrams.size)
    withBigrams.foreach { case (id, grams) =>
      val ns = grams.map(counts)
      val n = grams.size.toLong
      val expect = (n, ns.sum * 1000L / n, ns.count(_ == 1L) * 1000000L / n)
      assert(got(id) == expect, s"doc $id: ${got(id)} vs $expect")
    }
    // non-vacuity: the corpus exercises both tails of the hapax signal
    assert(got.values.exists(_._3 > 0L) && got.values.exists(_._3 < 1000000L))
  }

  test("tx12: ppm signals match a plain-Scala recomputation for every document") {
    val got = SparkEntry.queries("tx12_repetition")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("top_token_ppm"), r.getAs[Long]("dup_bigram_ppm"),
          r.getAs[Long]("dup_trigram_ppm"), r.getAs[Boolean]("keep")))).toMap
    assert(got.size == docs.size)
    def dupPpm(grams: Seq[String]): Long =
      if (grams.isEmpty) 0L
      else math.floor((grams.size - grams.distinct.size).toDouble * 1e6 / grams.size).toLong
    docs.foreach { case (id, text, _) =>
      val w = text.split(" ", -1).toSeq
      val top = w.groupBy(identity).values.map(_.size).max
      val topPpm = math.floor(top.toDouble * 1e6 / w.size).toLong
      val bg = w.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val tg = w.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
      val expect = (topPpm, dupPpm(bg), dupPpm(tg),
        topPpm <= 200000L && dupPpm(bg) <= 400000L)
      assert(got(id) == expect, s"doc $id: got ${got(id)}, expected $expect")
    }
  }

  test("tx11: rank/coverage invariants + exact recomputation of the head") {
    val rows = SparkEntry.queries("tx11_zipf_coverage")(spark, dir).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("term"),
        r.getAs[Long]("n"), r.getAs[Long]("coverage_ppm")))
    assert(rows.map(_._1).toSeq == (1L to rows.size).toSeq) // dense, ordered
    assert(rows.map(_._3).sliding(2).forall(p => p.size < 2 || p(0) >= p(1)))
    assert(rows.map(_._4).sliding(2).forall(p => p.size < 2 || p(0) <= p(1)))
    assert(rows.last._4 <= 1000000L)
    // full driver-side vocabulary recount
    val counts = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach(_._2.toLowerCase.split(" ", -1).filter(_.nonEmpty)
      .foreach(t => counts.update(t, counts.getOrElse(t, 0L) + 1L)))
    val total = counts.values.sum
    val expect = counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(rows.size)
    var cum = 0L
    expect.zip(rows).foreach { case ((term, n), row) =>
      cum += n
      val ppm = math.floor(cum.toDouble * 1e6 / total.toDouble).toLong
      assert(row._2 == term && row._3 == n && row._4 == ppm,
        s"rank ${row._1}: got $row, expected ($term, $n, $ppm)")
    }
  }

  test("cur2: the funnel is monotone and consistent with the standalone gates") {
    val out = SparkEntry.queries("cur2_curation_v2")(spark, dir).collect()
    assert(out.nonEmpty)
    val repKeep = SparkEntry.queries("tx12_repetition")(spark, dir).collect()
      .count(_.getAs[Boolean]("keep"))
    var repTotal = 0L
    out.foreach { r =>
      val Seq(docs, q, rep, both, samp) = Seq("n_docs", "n_keep_quality",
        "n_keep_repetition", "n_pass_both", "n_sampled").map(r.getAs[Long])
      assert(samp <= both && both <= math.min(q, rep) && rep <= docs && q <= docs,
        s"${r.getString(0)}: funnel not monotone ($docs, $q, $rep, $both, $samp)")
      assert(r.getAs[Long]("tokens_sampled") >= samp, "sampled docs have ≥1 token each")
      repTotal += rep
    }
    // the composed repetition gate must agree with tx12's keep count
    assert(repTotal == repKeep, s"composed rep gate $repTotal vs tx12 $repKeep")
  }

  test("red1: every row is redacted clean, with one planted email and phone") {
    val out = SparkEntry.queries("red1_pii_redact")(spark, dir).collect()
    assert(out.length == docs.size)
    out.foreach { r =>
      assert(r.getAs[Long]("n_emails") == 1L, s"doc ${r.getLong(0)}: emails")
      assert(r.getAs[Long]("n_phones") == 1L, s"doc ${r.getLong(0)}: phones")
      assert(r.getAs[Boolean]("clean"), s"doc ${r.getLong(0)}: not clean")
    }
    // one row recomputed end-to-end driver-side (plant + redact + md5)
    val hashes = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("red_hash")).toMap
    val (id, text, source) = docs.head
    val raw = s"$text contact user$id@$source.example.com or +1-555-" +
      (id % 10000).toString.reverse.padTo(4, '0').reverse
    val red = raw
      .replaceAll("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+", "<EMAIL>")
      .replaceAll("\\+1-555-[0-9][0-9][0-9][0-9]", "<PHONE>")
    val md = MessageDigest.getInstance("MD5")
      .digest(red.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    assert(hashes(id) == md)
  }

  test("tx15: planted bilingual docs flag as mixed, the flag recomputes, organics stay clean") {
    val out = SparkEntry.queries("tx15_mixed_lang")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val recomputed = r.getAs[String]("pred_a") != r.getAs[String]("pred_b") &&
        r.getAs[Long]("ev_a") > 0 && r.getAs[Long]("ev_b") > 0
      assert(r.getAs[Boolean]("mixed") == recomputed, s"flag disagrees with its inputs: $r")
    }
    val planted = out.filter(_.getAs[Long]("doc_id") >= 3000000L)
    assert(planted.nonEmpty)
    // the appended German tail must dominate every planted second half
    planted.foreach(r => assert(r.getAs[String]("pred_b") == "de",
      s"planted doc ${r.getAs[Long]("doc_id")} second half not German"))
    // and a solid majority flip the flag (first halves with zero profile
    // evidence are the only legitimate misses)
    assert(planted.count(_.getAs[Boolean]("mixed")) * 10 >= planted.length * 9,
      "planted bilingual docs mostly failed to flag")
    // the fixture's organic docs share one vocabulary — none should flag
    assert(!out.filter(_.getAs[Long]("doc_id") < 3000000L).exists(_.getAs[Boolean]("mixed")))
  }
}
