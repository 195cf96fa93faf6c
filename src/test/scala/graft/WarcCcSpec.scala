package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.sources.{CommonCrawl, Warc}

/** WARC byte-level parsing, CDXJ index lines, SURT keys. */
class WarcCcSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def record(typ: String, uri: String, payload: String,
                     extra: String = ""): String =
    s"WARC/1.0\r\nWARC-Type: $typ\r\n" +
      (if (uri != null) s"WARC-Target-URI: $uri\r\n" else "") +
      s"WARC-Date: 2026-01-01T00:00:00Z\r\n$extra" +
      s"Content-Length: ${payload.getBytes(UTF_8).length}\r\n\r\n$payload\r\n\r\n"

  private def httpPayload(body: String): String =
    s"HTTP/1.1 200 OK\r\ncontent-type: text/html\r\n\r\n$body"

  test("warc: multi-record buffer parses records, headers, payloads") {
    val buf = (record("warcinfo", null, "software: graft\r\n") +
      record("response", "https://a.example/x", httpPayload("<html>one</html>")) +
      record("response", "https://a.example/y", httpPayload("two"))).getBytes(UTF_8)
    val (recs, err) = Warc.parseRecords(buf)
    assert(err.isEmpty && recs.size == 3)
    assert(recs(0).headers("warc-type") == "warcinfo")
    assert(recs(1).headers("warc-target-uri") == "https://a.example/x")
    val (status, hdrs, body) = Warc.httpResponse(recs(1).payload)
    assert(status == 200L && hdrs("content-type") == "text/html")
    assert(new String(body, UTF_8) == "<html>one</html>")
    // payload bytes are opaque — a body containing CRLF CRLF must survive
    val tricky = record("response", "https://a.example/z",
      httpPayload("pre\r\n\r\npost")).getBytes(UTF_8)
    val (r2, e2) = Warc.parseRecords(tricky)
    assert(e2.isEmpty && new String(Warc.httpResponse(r2.head.payload)._3, UTF_8)
      == "pre\r\n\r\npost")
  }

  test("warc: corrupt tails quarantine as one error, good prefix kept") {
    val good = record("response", "https://a.example/x", httpPayload("ok"))
    def parse(s: String) = Warc.parseRecords(s.getBytes(UTF_8))
    val cases = Seq(
      good + "GARBAGE NOT WARC\r\n" -> "bad magic",
      good + "WARC/1.0\r\nWARC-Type: response\r\n\r\n" -> "missing content-length",
      good + "WARC/1.0\r\nContent-Length: xyz\r\n\r\n" -> "non-numeric",
      good + "WARC/1.0\r\nContent-Length: -5\r\n\r\n" -> "unreasonable",
      good + "WARC/1.0\r\nContent-Length: 999999\r\n\r\nshort" -> "overruns",
      good + "WARC/1.0\r\nWARC-Type: resp" -> "truncated")
    cases.foreach { case (s, want) =>
      val (recs, err) = parse(s)
      assert(recs.size == 1, s"prefix lost for '$want'")
      assert(err.exists(_.contains(want)), s"expected '$want', got $err")
    }
    // header line without a colon
    val (r, e) = parse(good + "WARC/1.0\r\nnocolonhere\r\n\r\n")
    assert(r.size == 1 && e.exists(_.contains("malformed header")))
  }

  test("warc: non-HTTP payload is all-body with status 0") {
    val (status, hdrs, body) = Warc.httpResponse("just bytes".getBytes(UTF_8))
    assert(status == 0L && hdrs.isEmpty && new String(body, UTF_8) == "just bytes")
  }

  test("warc: gzip members (one per record, concatenated) inflate and parse") {
    def gz(s: String): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(s.getBytes(UTF_8)); g.close(); bo.toByteArray
    }
    // real WARC .gz layout: each record its own gzip member, concatenated
    val buf = gz(record("warcinfo", null, "software: graft\r\n")) ++
      gz(record("response", "https://a.example/gz", httpPayload("zipped")))
    val rows = Warc.rowsOf(buf)
    assert(rows.size == 2 && rows.forall(_.error == null))
    assert(rows(1).url == "https://a.example/gz")
    assert(new String(rows(1).body, UTF_8) == "zipped")
    // truncated gzip: inflated prefix parses, corruption recorded
    val cut = buf.take(buf.length - 8)
    val rows2 = Warc.rowsOf(cut)
    assert(rows2.exists(_.error != null))
    assert(rows2.exists(r => r.rec_type == "warcinfo" && r.error == null))
  }

  test("warc: recordAt fetches one record by CDX (offset, length) in both layouts") {
    def gz(s: String): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(s.getBytes(UTF_8)); g.close(); bo.toByteArray
    }
    val r1 = record("response", "https://a.example/1", httpPayload("one"))
    val r2 = record("response", "https://a.example/2", httpPayload("two"))
    // uncompressed archive: slice by char offsets (ASCII)
    val plain = (r1 + r2).getBytes(UTF_8)
    val rec = Warc.recordAt(plain, r1.length.toLong, r2.length.toLong)
    assert(rec.isRight && rec.toOption.get.headers("warc-target-uri") == "https://a.example/2")
    // gzip archive: member-per-record, offsets are member boundaries
    val (g1, g2) = (gz(r1), gz(r2))
    val rec2 = Warc.recordAt(g1 ++ g2, g1.length.toLong, g2.length.toLong)
    assert(rec2.isRight && rec2.toOption.get.headers("warc-target-uri") == "https://a.example/2")
    // bad ranges: outside buffer; mid-record (resync impossible)
    assert(Warc.recordAt(plain, plain.length - 4L, 64L).isLeft)
    assert(Warc.recordAt(plain, 10L, r1.length.toLong).isLeft)
    // a range spanning two records is rejected, not silently truncated
    assert(Warc.recordAt(plain, 0L, (r1.length + r2.length).toLong).isLeft)
  }

  test("warc: readWarcFiles yields the pages-table shape, one task per file") {
    val dir = Files.createTempDirectory("warcspec")
    Files.write(dir.resolve("a.warc"),
      (record("warcinfo", null, "software: graft\r\n") +
        record("response", "https://a.example/1", httpPayload("alpha"))).getBytes(UTF_8))
    Files.write(dir.resolve("b.warc"),
      (record("response", "https://b.example/2", httpPayload("beta")) +
        "TRAILING JUNK\r\n").getBytes(UTF_8))
    val out = Warc.readWarcFiles(spark, dir.toString + "/*.warc")
      .orderBy("url").collect()
    assert(out.length == 4) // warcinfo + 2 responses + 1 error row
    val resp = out.filter(r => r.getAs[String]("rec_type") == "response")
    assert(resp.map(_.getAs[String]("url")).toSeq ==
      Seq("https://a.example/1", "https://b.example/2"))
    assert(new String(resp(0).getAs[Array[Byte]]("html"), UTF_8) == "alpha")
    assert(resp(0).getAs[java.sql.Timestamp]("warc_ts") != null)
    assert(resp.forall(_.getAs[Long]("status") == 200L))
    val errs = out.filter(_.getAs[String]("error") != null)
    assert(errs.length == 1 && errs(0).getAs[String]("error").contains("bad magic"))
  }

  test("surt: reversal, www strip, default port, query sort, fragment, ip") {
    assert(CommonCrawl.surtKeyScala("https://www.News.Example.COM/A/B?b=2&a=1#f")
      == "com,example,news)/a/b?a=1&b=2")
    assert(CommonCrawl.surtKeyScala("http://example.com") == "com,example)/")
    assert(CommonCrawl.surtKeyScala("https://example.com:443/x") == "com,example)/x")
    assert(CommonCrawl.surtKeyScala("https://example.com:8443/x") == "com,example:8443)/x")
    assert(CommonCrawl.surtKeyScala("http://10.0.0.1/x") == "10.0.0.1)/x")
    assert(CommonCrawl.surtKeyScala("http://www.example.com/?") == "com,example)/?")
    assert(CommonCrawl.surtKeyScala("not a url") == null)
    // one host's keys sort contiguously under the reversed form
    val keys = Seq("https://a.example.com/z", "https://b.example.org/a",
      "https://www.example.com/a").map(CommonCrawl.surtKeyScala).sorted
    assert(keys == Seq("com,example)/a", "com,example,a)/z", "org,example,b)/a"))
  }

  test("cdxj: typed fields parse; malformed lines yield nulls") {
    import spark.implicits._
    val lines = Seq(
      """com,example)/p 20260102030405 {"url": "https://example.com/p", "mime": "text/html", "status": "200", "digest": "sha1:AB", "length": "512", "offset": "1024", "filename": "seg-0.warc.gz"}""",
      "malformed line with no json").toDF("line")
    val out = CommonCrawl.parseCdxj(lines, "line").collect()
    val r = out(0)
    assert(r.getAs[String]("urlkey") == "com,example)/p")
    assert(r.getAs[java.sql.Timestamp]("fetch_ts").toString == "2026-01-02 03:04:05.0")
    assert(r.getAs[String]("url") == "https://example.com/p")
    assert(r.getAs[Long]("status") == 200L)
    assert(r.getAs[Long]("offset") == 1024L)
    assert(r.getAs[String]("warc_filename") == "seg-0.warc.gz")
    val bad = out(1)
    assert(bad.getAs[String]("url") == null && bad.getAs[java.sql.Timestamp]("fetch_ts") == null)
  }

  // ---- charset sniff + tolerant decode ----

  test("charset: BOM beats meta, meta forms, fallback, unsupported name") {
    import graft.sources.Charset
    // UTF-8 BOM
    val bomUtf8 = Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ "héllo".getBytes(UTF_8)
    assert(Charset.sniff(bomUtf8) == "utf-8")
    assert(Charset.decode(bomUtf8, "utf-8") == "héllo") // BOM char stripped
    // UTF-16LE BOM outranks a meta declaring something else
    val mixed = Array(0xFF, 0xFE).map(_.toByte) ++
      "<meta charset=\"shift_jis\">".getBytes("UTF-16LE")
    assert(Charset.sniff(mixed) == "utf-16le")
    // HTML5 form, unquoted + whitespace
    assert(Charset.sniff("<html><META CharSet = windows-1251 ><body>".getBytes(UTF_8))
      == "windows-1251")
    // legacy http-equiv form
    assert(Charset.sniff(
      ("<meta http-equiv=\"Content-Type\" content=\"text/html; charset=ISO-8859-2\">")
        .getBytes(UTF_8)) == "iso-8859-2")
    // charset= in body text (no meta tag) does not match
    assert(Charset.sniff("<p>use charset=koi8-r here</p>".getBytes(UTF_8)) == "utf-8")
    // unsupported name falls back
    assert(Charset.sniff("<meta charset=\"no-such-charset-xyz\">".getBytes(UTF_8)) == "utf-8")
    // declaration past the scan window is ignored
    val far = (" " * 2000 + "<meta charset=\"iso-8859-1\">").getBytes(UTF_8)
    assert(Charset.sniff(far) == "utf-8")
    // empty/null
    assert(Charset.sniff(Array.emptyByteArray) == "utf-8")
    assert(Charset.sniff(null) == "utf-8")
  }

  test("charset: legacy encodings round-trip through sniff+decode; malformed bytes quarantine as U+FFFD") {
    import graft.sources.Charset
    // windows-1251 Cyrillic page — the JVM decodes what Spark's encode()
    // builtin can't produce, so the bytes are built with the JDK charset
    val body = "<html><head><meta charset=\"windows-1251\"></head><body>Привет мир</body></html>"
    val w1251 = body.getBytes(java.nio.charset.Charset.forName("windows-1251"))
    val (cs, text) = Charset.decodeHtml(w1251)
    assert(cs == "windows-1251" && text == body)
    // shift_jis
    val sj = "<meta charset=shift_jis>こんにちは".getBytes(
      java.nio.charset.Charset.forName("shift_jis"))
    val (cs2, text2) = Charset.decodeHtml(sj)
    assert(cs2 == "shift_jis" && text2.endsWith("こんにちは"))
    // malformed UTF-8 tail → replacement char, never an exception
    val broken = "ok ".getBytes(UTF_8) ++ Array(0xC3.toByte) // truncated 2-byte seq
    val (cs3, text3) = Charset.decodeHtml(broken)
    assert(cs3 == "utf-8" && text3 == "ok �")
    // decode with an unknown charset name falls back to utf-8
    assert(Charset.decode("x".getBytes(UTF_8), "bogus!!name") == "x")
  }

  test("warc writer: responseRecord round-trips through the parser byte-identically") {
    import graft.sources.WarcWriter
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2026-02-03T04:05:06Z"))
    val body = "<html><body>héllo — ¤</body></html>".getBytes(UTF_8)
    val rec = WarcWriter.responseRecord("https://w.example/a?x=1", ts, 200L, body)
    val (recs, err) = Warc.parseRecords(rec)
    assert(err.isEmpty && recs.size == 1)
    val r = recs.head
    assert(r.headers("warc-type") == "response")
    assert(r.headers("warc-target-uri") == "https://w.example/a?x=1")
    assert(r.headers("warc-date") == "2026-02-03T04:05:06Z")
    assert(r.headers("warc-record-id") ==
      WarcWriter.recordId("https://w.example/a?x=1", "2026-02-03T04:05:06Z"))
    val (status, hdrs, gotBody) = Warc.httpResponse(r.payload)
    assert(status == 200L && hdrs("content-type") == "text/html; charset=UTF-8")
    assert(java.util.Arrays.equals(gotBody, body))
    // non-mapped status code still frames correctly; fractional-second
    // timestamps truncate to WARC/1.0's whole-second grammar
    val ts2 = new java.sql.Timestamp(ts.getTime + 123L)
    val rec2 = WarcWriter.responseRecord("https://w.example/b", ts2, 299L, Array[Byte]())
    val (recs2, err2) = Warc.parseRecords(rec2)
    assert(err2.isEmpty && recs2.head.headers("warc-date") == "2026-02-03T04:05:06Z")
    assert(Warc.httpResponse(recs2.head.payload)._1 == 299L)
    // determinism: same row → same bytes
    assert(java.util.Arrays.equals(rec,
      WarcWriter.responseRecord("https://w.example/a?x=1", ts, 200L, body)))
  }

  test("warc writer: file sink round-trips via readWarcFiles and recordAt, both layouts") {
    import spark.implicits._
    import graft.sources.WarcWriter
    val rows = (0 until 37).map { i =>
      (s"https://w$i.example/p$i",
        java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z")
          .plusSeconds(i * 61L)),
        if (i % 7 == 3) 404L else 200L,
        s"<html><body>doc $i ${"x" * (i * 13 % 97)}</body></html>".getBytes(UTF_8))
    }
    val df = rows.toDF("url", "warc_ts", "status", "html")
      .repartition(3, $"url").sortWithinPartitions("url")
    for (gzip <- Seq(false, true)) {
      val dir = Files.createTempDirectory(s"graft_warc_out_$gzip").toString
      val idx = WarcWriter.writeWarcFiles(df, dir, gzip = gzip)
      assert(idx.count() == 37L)
      // read the whole archive back: every row survives byte-identically
      val back = Warc.readWarcFiles(spark, s"$dir/*.${warcExt(gzip)}")
        .select("url", "warc_ts", "status", "html")
        .as[(String, java.sql.Timestamp, Long, Array[Byte])].collect()
        .map { case (u, t, s0, b) => (u, t, s0, new String(b, UTF_8)) }.toSet
      val want = rows.map { case (u, t, s0, b) => (u, t, s0, new String(b, UTF_8)) }.toSet
      assert(back == want)
      // range fetch: every index row addresses exactly its record
      val files = idx.select("filename").distinct().as[String].collect()
        .map(n => n -> java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, n))).toMap
      idx.as[(String, String, java.sql.Timestamp, Long, Long)].collect().foreach {
        case (fn, url, _, off, len) =>
          val got = Warc.recordAt(files(fn), off, len)
          assert(got.isRight, s"recordAt failed for $url: $got")
          assert(got.toOption.get.headers("warc-target-uri") == url)
      }
      // determinism: a second write of the same frame produces identical files
      val dir2 = Files.createTempDirectory(s"graft_warc_out2_$gzip").toString
      WarcWriter.writeWarcFiles(df, dir2, gzip = gzip)
      files.keys.foreach { n =>
        assert(java.util.Arrays.equals(files(n),
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir2, n))),
          s"file $n differs between identical writes")
      }
    }
  }

  private def warcExt(gzip: Boolean): String = if (gzip) "warc.gz" else "warc"

  test("warc extract: ExtractJob re-extracts an archive byte-identically to the source html") {
    import spark.implicits._
    import graft.sources.WarcWriter
    val rows = (0 until 9).map { i =>
      val html = s"<html><head><title>T$i</title></head><body><h1>H$i</h1>" +
        s"<p>para $i</p><a href=\"/l$i\">link</a></body></html>"
      (s"https://wx$i.example/p$i",
        java.sql.Timestamp.from(java.time.Instant.parse("2026-03-01T00:00:00Z")
          .plusSeconds(i * 3600L)),
        if (i == 4) 404L else 200L, // the 404 capture must NOT extract
        html.getBytes(UTF_8))
    }
    val dir = Files.createTempDirectory("graft_warc_ex").toString
    WarcWriter.writeWarcFiles(
      rows.toDF("url", "warc_ts", "status", "html").repartition(2, $"url"),
      dir, gzip = true)
    val out = Files.createTempDirectory("graft_warc_ex_out").toString
    val (nPages, nChunks) = graft.jobs.ExtractJob.run(spark, s"warc:$dir/*.warc.gz", out)
    assert(nPages == 8L && nChunks > 0L)
    val got = spark.read.parquet(s"$out/extracted.parquet")
      .select("url", "markdown").as[(String, String)].collect().toMap
    rows.filter(_._3 == 200L).foreach { case (u, _, _, html) =>
      val want = graft.html.DocRender.toMarkdown(
        graft.html.Doc.fromHtml(new String(html, UTF_8), u))
      assert(got(u) == want, s"re-extracted markdown differs for $u")
    }
    assert(!got.contains("https://wx4.example/p4"), "non-200 capture must not extract")
  }

  test("warc extract: a response with a malformed WARC-Date is dropped, not an aborted job") {
    import spark.implicits._
    val good = record("response", "https://wd.example/good",
      httpPayload("<html><head><title>G</title></head><body><p>good page</p></body></html>"))
    val bad = record("response", "https://wd.example/bad",
      httpPayload("<html><body><p>bad date</p></body></html>"))
      .replace("WARC-Date: 2026-01-01T00:00:00Z", "WARC-Date: not-a-date")
    val dir = Files.createTempDirectory("graft_warc_baddate").toString
    Files.write(java.nio.file.Paths.get(dir, "mixed.warc"), (good + bad).getBytes(UTF_8))
    val out = Files.createTempDirectory("graft_warc_baddate_out").toString
    val (nPages, nChunks) = graft.jobs.ExtractJob.run(spark, s"warc:$dir/*.warc", out)
    assert(nPages == 1L && nChunks > 0L)
    assert(spark.read.parquet(s"$out/extracted.parquet").select("url").as[String].collect().toSeq ==
      Seq("https://wd.example/good"))
  }

  test("pages extract: a pages.parquet row with a null warc_ts is dropped, not an aborted job") {
    import spark.implicits._
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z"))
    val site = Files.createTempDirectory("graft_pages_nullts").toString
    Seq[(String, java.sql.Timestamp, String)](("https://pn.example/good", ts,
        "<html><head><title>G</title></head><body><p>good page</p></body></html>"),
      ("https://pn.example/bad", null, "<html><body><p>no capture time</p></body></html>"))
      .toDF("url", "warc_ts", "html").withColumn("html", $"html".cast("binary"))
      .write.parquet(s"$site/pages.parquet")
    val out = Files.createTempDirectory("graft_pages_nullts_out").toString
    val (nPages, nChunks) = graft.jobs.ExtractJob.run(spark, site, out)
    assert(nPages == 1L && nChunks > 0L)
    assert(spark.read.parquet(s"$out/extracted.parquet").select("url").as[String].collect().toSeq ==
      Seq("https://pn.example/good"))
  }

  test("wet: conversion records round-trip; warcinfo skipped; corrupt tail quarantined") {
    import graft.sources.WarcWriter
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2026-02-03T04:05:06Z"))
    val rec = WarcWriter.conversionRecord("https://a.example/x", ts, "Extracted text.\nLine two — ünïcode.")
    val rows = Warc.wetRowsOf(rec)
    assert(rows.size == 1 && rows.head.error == null)
    assert(rows.head.url == "https://a.example/x")
    assert(rows.head.warc_ts == ts)
    assert(rows.head.text == "Extracted text.\nLine two — ünïcode.")
    assert(rows.head.content_length == "Extracted text.\nLine two — ünïcode.".getBytes(UTF_8).length.toLong)
    // a WET file leads with warcinfo; only conversion records surface
    val wetFile = (record("warcinfo", null, "software: graft\r\n") +
      new String(rec, UTF_8) +
      record("response", "https://a.example/y", httpPayload("ignored"))).getBytes(UTF_8)
    val rows2 = Warc.wetRowsOf(wetFile)
    assert(rows2.size == 1 && rows2.head.url == "https://a.example/x")
    // corrupt tail: good prefix + one error row
    val bad = wetFile ++ "NOT A WARC\r\n".getBytes(UTF_8)
    val rows3 = Warc.wetRowsOf(bad)
    assert(rows3.size == 2 && rows3(0).url == "https://a.example/x")
    assert(rows3(1).text == null && rows3(1).error != null && rows3(1).error.contains("bad magic"))
    // determinism: same row → same bytes
    assert(java.util.Arrays.equals(rec,
      WarcWriter.conversionRecord("https://a.example/x", ts, "Extracted text.\nLine two — ünïcode.")))
  }

  test("wet: file sink round-trips via readWetFiles and recordAt, both layouts") {
    import spark.implicits._
    import graft.sources.WarcWriter
    val rows = (0 until 23).map { i =>
      (s"https://w$i.example/p$i",
        java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z")
          .plusSeconds(i * 61L)),
        s"text of doc $i ${"y" * (i * 7 % 31)}")
    }
    val df = rows.toDF("url", "warc_ts", "text")
      .repartition(3, $"url").sortWithinPartitions("url")
    for (gzip <- Seq(false, true)) {
      val dir = Files.createTempDirectory(s"graft_wet_out_$gzip").toString
      val ext = if (gzip) "warc.wet.gz" else "warc.wet"
      val idx = WarcWriter.writeWetFiles(df, dir, gzip = gzip)
      assert(idx.count() == 23L)
      val back = Warc.readWetFiles(spark, s"$dir/*.$ext")
        .select("url", "warc_ts", "text")
        .as[(String, java.sql.Timestamp, String)].collect().toSet
      assert(back == rows.toSet)
      // every index row addresses exactly its record
      val files = idx.select("filename").distinct().as[String].collect()
        .map(n => n -> java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, n))).toMap
      idx.as[(String, String, java.sql.Timestamp, Long, Long)].collect().foreach {
        case (fn, url, _, off, len) =>
          val got = Warc.recordAt(files(fn), off, len)
          assert(got.isRight && got.toOption.get.headers("warc-target-uri") == url)
      }
    }
  }

  test("wat: envelope fields parse typed; malformed json yields nulls; links feed the graph shape") {
    import spark.implicits._
    val good =
      """{"Envelope": {"WARC-Header-Metadata": {"WARC-Target-URI": "https://a.example/x",
        |"WARC-Date": "2026-01-05T12:00:00Z"},
        |"Payload-Metadata": {"HTTP-Response-Metadata": {
        |"Response-Message": {"Status": "200"},
        |"HTML-Metadata": {"Head": {"Title": "A page"},
        |"Links": [{"path": "A@/href", "url": "https://b.example/1", "text": "one"},
        |          {"path": "A@/href", "url": "https://b.example/2", "text": "two"}]}}}}}""".stripMargin.replace("\n", " ")
    val noLinks =
      """{"Envelope": {"WARC-Header-Metadata": {"WARC-Target-URI": "https://a.example/y",
        |"WARC-Date": "2026-01-06T12:00:00Z"},
        |"Payload-Metadata": {"HTTP-Response-Metadata": {
        |"Response-Message": {"Status": "404"},
        |"HTML-Metadata": {"Head": {}, "Links": []}}}}}""".stripMargin.replace("\n", " ")
    val df = Seq(good, noLinks, "{not json").toDF("json")
    val out = CommonCrawl.parseWat(df, "json").collect()
    val byUrl = out.filter(_.getString(0) != null).map(r => r.getString(0) -> r).toMap
    val g = byUrl("https://a.example/x")
    assert(g.getTimestamp(1).toInstant.toString == "2026-01-05T12:00:00Z")
    assert(g.getLong(2) == 200L && g.getString(3) == "A page")
    val links = g.getSeq[org.apache.spark.sql.Row](4)
    assert(links.map(_.getAs[String]("url")) == Seq("https://b.example/1", "https://b.example/2"))
    assert(links.head.getAs[String]("text") == "one")
    val n = byUrl("https://a.example/y")
    assert(n.getLong(2) == 404L && n.getString(3) == null && n.getSeq[Any](4).isEmpty)
    // the malformed line survives as all-nulls, never an exception
    assert(out.count(_.getString(0) == null) == 1)
  }

  test("wat: watRowsOf surfaces metadata records only; readWatFiles chains into parseWat") {
    import spark.implicits._
    val env = """{"Envelope": {"WARC-Header-Metadata": {"WARC-Target-URI": "https://m.example/1", "WARC-Date": "2026-01-07T00:00:00Z"}, "Payload-Metadata": {"HTTP-Response-Metadata": {"Response-Message": {"Status": "200"}, "HTML-Metadata": {"Head": {"Title": "t1"}, "Links": []}}}}}"""
    val buf = (record("warcinfo", null, "software: graft\r\n") +
      record("metadata", "https://m.example/1", env) +
      record("response", "https://m.example/1", httpPayload("<html/>"))).getBytes(UTF_8)
    val rows = Warc.watRowsOf(buf)
    assert(rows.size == 1 && rows.head.url == "https://m.example/1" && rows.head.json == env)
    val dir = Files.createTempDirectory("graft_wat").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "f.warc.wat"), buf)
    val parsed = CommonCrawl.parseWat(
      Warc.readWatFiles(spark, s"$dir/*.warc.wat"), "json").collect()
    assert(parsed.length == 1 && parsed.head.getString(0) == "https://m.example/1"
      && parsed.head.getString(3) == "t1")
  }

  test("wat writer: envelope + metadata record round-trip through watRowsOf and parseWat") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.WarcWriter
    // envelope built by the writer, parsed back typed — null title omitted
    // from the JSON and read back as null (symmetric)
    val df = Seq(
      ("https://a.example/x", "2026-01-05T12:00:00Z", 200L, "A & B <page>", 2),
      ("https://a.example/y", "2026-01-06T12:00:00Z", 404L, null, 0))
      .toDF("url", "wdate", "status", "title", "nl")
    val emptyLinks = array().cast("array<struct<path:string,url:string,text:string>>")
    val links = when(col("nl") === 0, emptyLinks).otherwise(array(
      struct(lit("A@/href").as("path"), lit("https://b.example/1").as("url"), lit("one").as("text")),
      struct(lit("A@/href").as("path"), lit("https://b.example/2").as("url"), lit("two").as("text"))))
    val env = CommonCrawl.watEnvelope(col("url"), col("wdate"), col("status"), col("title"), links)
    val parsed = CommonCrawl.parseWat(df.select(env.as("json")), "json")
      .collect().map(r => r.getString(0) -> r).toMap
    val g = parsed("https://a.example/x")
    assert(g.getTimestamp(1).toInstant.toString == "2026-01-05T12:00:00Z")
    assert(g.getLong(2) == 200L && g.getString(3) == "A & B <page>")
    assert(g.getSeq[org.apache.spark.sql.Row](4).map(_.getAs[String]("url"))
      == Seq("https://b.example/1", "https://b.example/2"))
    val n = parsed("https://a.example/y")
    assert(n.getLong(2) == 404L && n.getString(3) == null && n.getSeq[Any](4).isEmpty)
    // full WARC framing: metadataRecord → watRowsOf → the same json
    val json = df.select(env.as("json")).orderBy("json").as[String].collect().head
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2026-01-05T12:00:00Z"))
    val rec = WarcWriter.metadataRecord("https://a.example/x", ts, json)
    val rows = Warc.watRowsOf(rec)
    assert(rows.size == 1 && rows.head.url == "https://a.example/x" && rows.head.json == json)
    assert(java.util.Arrays.equals(rec, WarcWriter.metadataRecord("https://a.example/x", ts, json)))
  }

  test("wet extract: ExtractJob chunks a WET archive identically to direct chunker calls") {
    import spark.implicits._
    import graft.sources.WarcWriter
    val texts = (0 until 6).map { i =>
      val body =
        if (i % 2 == 0) s"# Doc $i\n\n" + (0 until 120).map(w => s"word$w").mkString(" ")
        else (0 until 150).map(w => s"plain$i-$w").mkString(" ") // no heading → text_chunk path
      (s"https://wet$i.example/p$i",
        java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z")
          .plusSeconds(i * 61L)),
        body)
    }
    val dir = Files.createTempDirectory("graft_wet_ex").toString
    WarcWriter.writeWetFiles(texts.toDF("url", "warc_ts", "text").repartition(2, $"url"),
      dir, gzip = true)
    val out = Files.createTempDirectory("graft_wet_ex_out").toString
    val (nPages, nChunks) = graft.jobs.ExtractJob.run(spark, s"wet:$dir/*.warc.wet.gz", out)
    assert(nPages == 6L && nChunks > 0L)
    val got = spark.read.parquet(s"$out/extracted.parquet")
      .select("url", "markdown", "n_chunks").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    texts.foreach { case (u, ts, body) =>
      val want = graft.chunk.Chunker.semanticChunks(body, u, ts.toInstant.toString)
      assert(got(u)._1 == body, s"markdown must be the WET text verbatim for $u")
      assert(got(u)._2 == want.length, s"chunk count differs for $u")
    }
    val chunkIds = spark.read.parquet(s"$out/chunks.parquet")
      .select("id").as[String].collect().toSet
    val wantIds = texts.flatMap { case (u, ts, body) =>
      graft.chunk.Chunker.semanticChunks(body, u, ts.toInstant.toString).map(_.id) }.toSet
    assert(chunkIds == wantIds)
  }
}
