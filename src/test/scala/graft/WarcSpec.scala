package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BinaryFiles, PdfCodec, Warc, WarcCodec}
import graft.operators.CorpusPipeline

/** WARC (ISO 28500) + JSONL raw-corpus ingestion. The codec is a
  * from-spec single forward pass with magic resync — the adversarial
  * corpus here (truncated payloads, bad lengths, garbage between
  * records, corrupt gzip members) must skip damage cleanly and keep
  * every intact record.
  */
class WarcSpec extends AnyFunSuite {
  import TestSpark.spark

  private def rec(t: String, uri: Option[String], payload: String,
                  id: String = "<urn:test:1>", date: String = "2024-02-03T04:05:06Z",
                  ctype: String = "text/plain"): Array[Byte] =
    WarcCodec.encodeRecord(t, uri, date, id, ctype, payload.getBytes("UTF-8"))

  test("encode → parse roundtrip preserves every field and the payload octets") {
    val bytes = rec("response", Some("http://a.com/x"), "hello world",
      id = "<urn:test:r1>", ctype = "application/http; msgtype=response")
    val got = WarcCodec.parseAll(bytes)
    assert(got.length === 1)
    val r = got.head
    assert(r.warcType === "response")
    assert(r.targetUri === "http://a.com/x")
    assert(r.warcDate === "2024-02-03T04:05:06Z")
    assert(r.recordId === "<urn:test:r1>")
    assert(r.contentType === "application/http; msgtype=response")
    assert(new String(r.payload, "UTF-8") === "hello world")
    // warcinfo carries no Target-URI → null field, still parses
    val wi = WarcCodec.parseAll(rec("warcinfo", None, "software: x\r\n"))
    assert(wi.head.targetUri === null && wi.head.warcType === "warcinfo")
  }

  test("damage resync: truncated / bad-length / garbage blocks skip, intact records survive") {
    val good1 = rec("response", Some("http://a.com/1"), "one")
    val good2 = rec("response", Some("http://a.com/2"), "two")
    val good3 = rec("response", Some("http://a.com/3"), "three")
    // a record CLAIMING more payload than exists (truncated tail)
    val truncated = rec("response", Some("http://a.com/t"), "full payload").dropRight(20)
    // a non-numeric Content-Length
    val badLen = ("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: NaN\r\n\r\n" +
      "xx\r\n\r\n").getBytes("UTF-8")
    // header line without a colon
    val badHeader = ("WARC/1.0\r\nWARC-Type response\r\nContent-Length: 2\r\n\r\n" +
      "xx\r\n\r\n").getBytes("UTF-8")
    val garbage = "NOT A WARC BLOCK AT ALL \u0000\u0001\u0002".getBytes("UTF-8")
    val file = Array(good1, badLen, good2, badHeader, garbage, good3, truncated)
      .reduce(_ ++ _)
    val got = WarcCodec.parseAll(file)
    // the payload of a damaged block can itself contain no magic, so
    // exactly the three intact records (truncated last one drops)
    assert(got.map(r => new String(r.payload, "UTF-8")) === Vector("one", "two", "three"))
    // payload containing the magic BYTES must not split the record
    val tricky = rec("resource", Some("http://a.com/m"), "body with WARC/1.0\r\n inside")
    assert(WarcCodec.parseAll(tricky ++ good1).length === 2)
    assert(WarcCodec.parseAll(Array.empty[Byte]) === Vector.empty)
  }

  test("gzip: multi-member streams inflate; corrupt gzip yields no records, no throw") {
    val members = Seq(
      rec("response", Some("http://a.com/1"), "alpha"),
      rec("response", Some("http://a.com/2"), "beta"))
      .map(WarcCodec.gzipMember).reduce(_ ++ _)
    assert(WarcCodec.isGzip(members))
    val got = WarcCodec.parseAll(members)
    assert(got.map(r => new String(r.payload, "UTF-8")) === Vector("alpha", "beta"))
    val corrupt = members.take(10) ++ Array[Byte](1, 2, 3)
    assert(WarcCodec.parseAll(corrupt) === Vector.empty)
  }

  test("HTTP response payload: status, parametrized mime, body; header case-insensitive") {
    val p = ("HTTP/1.1 301 Moved Permanently\r\nLocation: /new\r\n" +
      "CONTENT-TYPE: Text/HTML; charset=iso-8859-1\r\n\r\n<a>moved</a>").getBytes("UTF-8")
    val h = WarcCodec.parseHttpResponse(p).get
    assert(h.status === 301)
    assert(h.mime === "text/html")
    assert(new String(h.body, "UTF-8") === "<a>moved</a>")
    // no headers terminator → damage, not a half-parse
    assert(WarcCodec.parseHttpResponse("HTTP/1.1 200 OK\r\nA: b".getBytes).isEmpty)
    assert(WarcCodec.parseHttpResponse("not http".getBytes).isEmpty)
  }

  test("file reader: both codec layouts read back; records() is shuffle-free") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"doc body $i", "en", "web", 10L + i % 3))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = new java.io.File("target/test_warc_read").getAbsolutePath
    val glob = Warc.ensureWarcFiles(docs, dir, buckets = 4)
    val recs = Warc.read(spark, glob)
    // 4 warcinfo (one per segment; 2 plain + 2 gz) + 40 × (request+response)
    assert(recs.count() === 4L + 80L)
    assert(recs.filter(col("warc_type") === "warcinfo").count() === 4L)
    val plan = Warc.records(recs.sparkSession.read.format("binaryFile").load(glob)
      .select(col("path"), col("content"))).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"record scan must be narrow:\n$plan")
    // idempotence: a second ensure call rewrites nothing (fingerprint match)
    val before = new java.io.File(dir).listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(before.contains("_graft_fingerprint"))
    Warc.ensureWarcFiles(docs, dir, buckets = 4)
    val after = new java.io.File(dir).listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(after === before, "a matching fingerprint must skip the rewrite")
  }

  test("corpus files follow their documents: same row count, changed text is served afresh") {
    import spark.implicits._
    def docsOf(word: String) = (0L until 12L).map(i => (i, s"$word body $i", "en", "web", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // each corpus kind: ensure `docs` at `dir`, read it back without paths
    val kinds: Seq[(String, (org.apache.spark.sql.DataFrame, String) => Set[Seq[Any]])] = Seq(
      "warc" -> ((docs, dir) => rows(Warc.htmlDocuments(Warc.responses(
        Warc.read(spark, Warc.ensureWarcFiles(docs, dir, buckets = 2)))).select("url", "text"))),
      "jsonl" -> ((docs, dir) => rows(Warc.readJsonl(spark, Warc.ensureJsonlFiles(docs, dir)))),
      "pdf" -> { (docs, dir) =>
        PdfCodec.ensurePdfFiles(docs, dir)
        rows(PdfCodec.extractFiles(BinaryFiles.read(spark, dir, ".pdf"))
          .select(regexp_extract(col("path"), "doc-(\\d+)\\.pdf", 1).as("doc"), col("text")))
      })
    for ((kind, served) <- kinds) {
      val dir = java.nio.file.Files.createTempDirectory(s"restamp_$kind").resolve("c").toString
      val fresh = java.nio.file.Files.createTempDirectory(s"restamp_${kind}_fresh").resolve("c").toString
      val first = served(docsOf("first"), dir)
      val second = served(docsOf("second"), dir)
      val want = served(docsOf("second"), fresh)
      assert(want !== first, s"$kind: the two frames must read back differently")
      assert(second === want, s"$kind: a same-count frame with new text must get its own files")
    }
  }

  test("composition pinned: warc → extract → curate equals the pre-extracted path") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again", "en", "web"),
      (1L, "a b c d e f g h i j k l m n o p q r s t u v w x y z", "en", "web"),
      (2L, "the quick brown fox jumps over the lazy dog again and again", "en", "news"),
      (3L, "el rapido zorro marron salta sobre el perro perezoso", "es", "web"),
      (4L, "short", "en", "web"))
      .map { case (i, t, l, s) => (i, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = new java.io.File("target/test_warc_compose").getAbsolutePath
    val glob = Warc.ensureWarcFiles(docs, dir, buckets = 2)
    val crawled = Warc.htmlDocuments(Warc.responses(Warc.read(spark, glob)))
      .withColumn("doc_id",
        regexp_extract(col("canonical_url"), "/doc/(\\d+)$", 1).cast("long"))
    // 1) extraction recovers the exact text per document
    val texts = crawled.join(docs.select(col("doc_id"), col("text").as("want")), "doc_id")
    assert(texts.filter(col("text") =!= col("want")).count() === 0L)
    assert(texts.count() === 5L)
    // 2) the crawl-derived table (metadata re-joined, the real shape:
    //    crawl + sidecar) curates IDENTICALLY to the pre-extracted table
    val warcDocs = crawled
      .join(docs.select("doc_id", "lang", "source", "n_chars"), "doc_id")
      .select("doc_id", "text", "lang", "source", "n_chars")
    def stats(d: org.apache.spark.sql.DataFrame) =
      CorpusPipeline.curate(d, "en", 0.1, 0.5)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(stats(warcDocs) === stats(docs), "warc path must curate identically")
  }

  test("JSONL: contract-schema read over plain+gz; corrupt lines quarantine, not fail") {
    import spark.implicits._
    val docs = (0L until 30L).map(i => (i, s"text $i", "en", "web", 6L + (i % 10)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = new java.io.File("target/test_jsonl").getAbsolutePath
    val glob = Warc.ensureJsonlFiles(docs, dir)
    val got = Warc.readJsonl(spark, glob)
    assert(got.count() === 30L)
    assert(got.columns.toSeq === Seq("doc_id", "text", "lang", "source", "n_chars"))
    assert(got.agg(sum("doc_id")).head.getLong(0) === (0L until 30L).sum)
    // corrupt lines: quarantined under PERMISSIVE, dropped by default
    val dirty = new java.io.File("target/test_jsonl_dirty/plain")
    dirty.mkdirs()
    java.nio.file.Files.write(new java.io.File(dirty, "part-0.jsonl").toPath,
      ("""{"doc_id": 1, "text": "ok", "lang": "en", "source": "w", "n_chars": 2}""" + "\n" +
        """{"doc_id": broken not json""" + "\n" +
        """{"doc_id": 2, "text": "ok2", "lang": "en", "source": "w", "n_chars": 3}""" + "\n")
        .getBytes("UTF-8"))
    val clean = Warc.readJsonl(spark, dirty.getAbsolutePath)
    assert(clean.count() === 2L)
    val kept = Warc.readJsonl(spark, dirty.getAbsolutePath, keepCorrupt = true)
    assert(kept.filter(col("_corrupt_record").isNotNull).count() === 1L)
  }

  test("mixed-media corpus: mime routing splits modalities; the text half extracts unchanged") {
    import spark.implicits._
    val docs = (0L until 16L).map(i => (i, s"mixed body $i", "en", "web", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = new java.io.File("target/test_warc_media").getAbsolutePath
    val glob = Warc.ensureWarcFiles(docs, dir, buckets = 2, withImages = true)
    val resp = Warc.responses(Warc.read(spark, glob)).cache()
    // modality split: 16 html pages + an image per 4th doc
    assert(resp.filter(col("mime") === "text/html").count() === 16L)
    assert(resp.filter(col("mime") === "image/png").count() === 4L)
    // the image half decodes to the SAME perceptual hash as the
    // directly-synthesized base asset
    val viaCrawl = graft.operators.Multimodal.imageDhash(
        resp.filter(col("mime") === "image/png")
          .select(regexp_extract(col("url"), "/img/(\\d+)\\.png$", 1).cast("long").as("asset_id"),
            col("body").as("media"), lit("image/png").as("mime")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val direct = graft.operators.Multimodal.imageDhash(
        graft.operators.Multimodal.dhashAssetsFromDocuments(docs)
          .filter(col("asset_id") % 10 === 0))
      .collect().map(r => (r.getLong(0) / 10, r.getLong(1))).toMap
    assert(viaCrawl.keySet === Set(0L, 4L, 8L, 12L))
    viaCrawl.foreach { case (id, h) => assert(h === direct(id),
      s"crawled image $id must hash like the direct asset") }
    // exchange audit: html responses pair with logged requests, the
    // embedded-media fetches are the unpaired rows
    val ex = Warc.exchanges(Warc.read(spark, glob))
      .collect().map(r => (r.getString(0), r.getString(3), r.getBoolean(5))).toSet
    assert(ex.count(_._2 == "text/html") === 16 && ex.filter(_._2 == "text/html").forall(_._3))
    assert(ex.count(_._2 == "image/png") === 4 && ex.filter(_._2 == "image/png").forall(!_._3),
      "media fetched without a logged request must audit as unpaired")
    // the text half still extracts the exact documents
    val texts = Warc.htmlDocuments(resp)
      .select(regexp_extract(col("canonical_url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(texts === (0L until 16L).map(i => i -> s"mixed body $i").toMap)
    resp.unpersist()
  }

  test("HTTP body decoding: chunked framing, gzip/deflate codings, header/meta charsets; damage skips") {
    def http(headers: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\n$headers\r\n").getBytes("UTF-8") ++ body
    // chunked: two chunks + terminator, extension tolerated
    val chunked = http("Content-Type: text/html\r\nTransfer-Encoding: chunked\r\n",
      "5;ext=1\r\nhello\r\n6\r\n world\r\n0\r\n\r\n".getBytes("UTF-8"))
    val hc = WarcCodec.parseHttpResponse(chunked).get
    assert(new String(hc.body, "UTF-8") === "hello world")
    // gzip content coding
    val gz = http("Content-Type: text/plain\r\nContent-Encoding: gzip\r\n",
      WarcCodec.gzipMember("compressed page".getBytes("UTF-8")))
    assert(new String(WarcCodec.parseHttpResponse(gz).get.body, "UTF-8")
      === "compressed page")
    // deflate (zlib-wrapped)
    val d = {
      val def1 = new java.util.zip.Deflater()
      def1.setInput("deflated page".getBytes("UTF-8")); def1.finish()
      val buf = new Array[Byte](256); val n = def1.deflate(buf); def1.end()
      java.util.Arrays.copyOf(buf, n)
    }
    val df = http("Content-Type: text/plain\r\nContent-Encoding: deflate\r\n", d)
    assert(new String(WarcCodec.parseHttpResponse(df).get.body, "UTF-8")
      === "deflated page")
    // gzip INSIDE chunked (transfer coding is the outer layer)
    val stacked = {
      val inner = WarcCodec.gzipMember("stacked body".getBytes("UTF-8"))
      val hex = Integer.toHexString(inner.length)
      http("Content-Type: text/html\r\nContent-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n",
        s"$hex\r\n".getBytes("UTF-8") ++ inner ++ "\r\n0\r\n\r\n".getBytes("UTF-8"))
    }
    assert(new String(WarcCodec.parseHttpResponse(stacked).get.body, "UTF-8")
      === "stacked body")
    // header charset beats the UTF-8 default: latin-1 é (0xE9)
    val latin = http("Content-Type: text/html; charset=ISO-8859-1\r\n",
      "café".getBytes("ISO-8859-1"))
    val hl = WarcCodec.parseHttpResponse(latin).get
    assert(hl.charset === "iso-8859-1")
    assert(WarcCodec.decodeText(hl.body, hl.charset) === "café")
    // meta-sniffed charset when the header stays silent
    val metaBody = "<html><meta charset=\"windows-1252\"><body>€9</body></html>"
      .getBytes("windows-1252")
    val hm = WarcCodec.parseHttpResponse(
      http("Content-Type: text/html\r\n", metaBody)).get
    assert(hm.charset === "windows-1252")
    assert(WarcCodec.decodeText(hm.body, hm.charset).contains("€9"))
    // unknown charset label falls back to UTF-8 without throwing
    assert(WarcCodec.decodeText("ok".getBytes("UTF-8"), "not-a-charset") === "ok")
    // damage: malformed chunk size, truncated chunk, undecodable coding
    assert(WarcCodec.parseHttpResponse(http(
      "Transfer-Encoding: chunked\r\n", "ZZ\r\nbody".getBytes("UTF-8"))).isEmpty)
    assert(WarcCodec.parseHttpResponse(http(
      "Transfer-Encoding: chunked\r\n", "ff\r\nshort".getBytes("UTF-8"))).isEmpty)
    assert(WarcCodec.parseHttpResponse(http(
      "Content-Encoding: br\r\n", "x".getBytes("UTF-8"))).isEmpty)
    assert(WarcCodec.parseHttpResponse(http(
      "Content-Encoding: gzip\r\n", "not gzip".getBytes("UTF-8"))).isEmpty)
  }

  test("encoding-variant corpus: every transfer stack extracts the same closed-form text") {
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, s"enc body $i", "en", "web", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = new java.io.File("target/test_warc_enc").getAbsolutePath
    val glob = Warc.ensureWarcFiles(docs, dir, buckets = 2, withEncodings = true)
    val got = Warc.htmlDocuments(Warc.responses(Warc.read(spark, glob)))
      .select(regexp_extract(col("canonical_url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val want = (0L until 20L).map(i => i -> (s"enc body $i" + Warc.encSuffix(i))).toMap
    assert(got === want,
      "gzip/chunked/latin-1/cp1252/meta variants must all decode to the planted text")
  }

  test("revisit records parse, pair with originals, and mime yield accounts the routed corpus") {
    import spark.implicits._
    val docs = (0L until 24L).map(i => (i, s"rv body $i", "en", "web", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = new java.io.File("target/test_warc_revisit").getAbsolutePath
    val glob = Warc.ensureWarcFiles(docs, dir, buckets = 2, withImages = true)
    val recs = Warc.read(spark, glob)
    val rv = Warc.revisits(recs).collect()
      .map(r => (r.getString(0), r.getString(2), r.getBoolean(6))).toSet
    assert(rv === (0L until 24L by 6).map(i =>
      (Warc.urlOf(i), s"<urn:graft:response:$i>", true)).toSet,
      "every planted revisit must pair with its original response")
    // a dangling revisit (original in a lost segment) audits as unfound
    val lone = WarcCodec.parseAll(Warc.revisitRecordOf(99L))
    assert(lone.head.refersTo === "<urn:graft:response:99>")
    assert(lone.head.warcProfile.contains("identical-payload-digest"))
    val loneDf = Warc.records(Seq(("x", Warc.revisitRecordOf(99L)))
      .toDF("path", "content"))
    assert(Warc.revisits(loneDf).collect().map(_.getBoolean(6)).toSeq === Seq(false))
    // routed yield: html every doc, png every 4th, txt every 3rd
    val y = Warc.mimeYield(Warc.responses(recs)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(y === Map(
      "text/html" -> ((24L, 24L, true)),
      "image/png" -> ((6L, 6L, false)),
      "text/plain" -> ((8L, 8L, true))))
    // the text/plain half flows into the documents surface verbatim…
    val plainDf = Warc.textDocuments(Warc.responses(recs))
      .filter(col("mime") === "text/plain")
    val plain = plainDf
      .collect().map(r => (r.getString(0), r.getString(3))).toMap
    assert(plain === (0L until 24L by 3).map(i =>
      Warc.plainUrlOf(i) -> s"rv body $i").toMap)
    // …and CURATES identically to the equivalent pre-extracted table
    // (crawl text + metadata sidecar, the real shape)
    val plainDocs = plainDf
      .select(regexp_extract(col("url"), "/txt/(\\d+)\\.txt$", 1).cast("long").as("doc_id"),
        col("text"))
      .join(docs.select("doc_id", "lang", "source", "n_chars"), "doc_id")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val preExtracted = docs.filter(col("doc_id") % 3 === 0)
    def curStats(d: org.apache.spark.sql.DataFrame) =
      CorpusPipeline.curate(d, "en", 0.1, 0.5)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(curStats(plainDocs) === curStats(preExtracted),
      "routed text/plain must curate identically to the pre-extracted table")
  }

  test("exchange audit parses files ONCE: both sides read the checkpoint, no file scan in the plan") {
    import spark.implicits._
    val docs = (0L until 10L).map(i => (i, s"x body $i", "en", "web", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = new java.io.File("target/test_warc_onepass").getAbsolutePath
    val glob = Warc.ensureWarcFiles(docs, dir, buckets = 2)
    val ex = Warc.exchanges(Warc.read(spark, glob))
    // correctness first
    assert(ex.count() === 10L)
    // the r15 shape re-ran the binaryFile scan + gunzip + record parse
    // once per audit side; the forked sides must now both descend from
    // the checkpointed single-pass projection — no file source left
    val plan = ex.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.contains("BatchScan"),
      s"both audit sides must read the checkpointed parse pass:\n$plan")
  }

  test("skip reasons: every decode-failure variant surfaces its reason; clean variants still decode") {
    import spark.implicits._
    val docs = (0L until 36L).map(i => (i, s"clean body $i", "en", "web", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = new java.io.File("target/test_warc_skips").getAbsolutePath
    val glob = Warc.ensureWarcFiles(docs, dir, buckets = 2, withSkips = true)
    val recs = Warc.read(spark, glob)
    val skips = Warc.responseSkips(recs)
      .select(regexp_extract(col("url"), "/doc/(\\d+)\\?", 1).cast("long").as("doc_id"),
        col("reason"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(skips.keySet === (0L until 36L).filter(_ % 6 != 0).toSet,
      "exactly the damaged variants must surface")
    skips.foreach { case (id, reason) =>
      assert(reason === Warc.skipReasonOf(id), s"doc $id")
    }
    // the decoded half is exactly the complement — nothing vanishes
    // silently anymore: skips + responses partition the response records
    val ok = Warc.responses(recs)
      .select(regexp_extract(col("url"), "/doc/(\\d+)\\?", 1).cast("long"))
      .collect().map(_.getLong(0)).toSet
    assert(ok === (0L until 36L).filter(_ % 6 == 0).toSet)
    // bad_deflate (not plantable text-independently above): unit level
    val br = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Content-Encoding: deflate\r\nContent-Length: 9\r\n\r\nNOTZLIB!!").getBytes("UTF-8")
    assert(WarcCodec.decodeHttpResponse(br) === Left("bad_deflate"))
  }

  test("file audit: planted damage counts exactly; a clean corpus audits clean; tiny cap counts oversize") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"doc body $i", "en", "web", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = new java.io.File("target/test_warc_damage").getAbsolutePath
    val glob = Warc.ensureWarcFiles(docs, dir, buckets = 4, withDamage = true)
    val files = spark.read.format("binaryFile").load(glob)
      .select(col("path"), col("content"))
    val audit = Warc.fileAudit(files)
      .select(regexp_extract(col("path"), "segment-(\\d+)", 1).cast("int").as("b"),
        col("n_records"), col("n_skipped"), col("n_oversized"), col("io_error"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(audit.keySet === (0 until 4).toSet)
    (0 until 4).foreach { b =>
      val (nRec, nSkip, nOver, ioErr) = audit(b)
      assert(nRec === 21L, s"bucket $b: warcinfo + 10 × (request+response)")
      assert(nSkip === 2L, s"bucket $b: bad header + truncated record")
      assert(nOver === 1L, s"bucket $b: the 300 MiB claim")
      assert(ioErr === (b % 2 == 1), s"bucket $b: gz truncation is an IO error")
    }
    // the records() read of the SAME damaged corpus still yields every
    // intact record — the audit observes loss, it does not change policy
    assert(Warc.read(spark, glob).count() === 4L * 21L)
    // clean corpus audits clean
    val cleanDir = new java.io.File("target/test_warc_read").getAbsolutePath
    val cleanGlob = Warc.ensureWarcFiles(docs, cleanDir, buckets = 4)
    val clean = Warc.fileAudit(spark.read.format("binaryFile").load(cleanGlob)
      .select(col("path"), col("content")))
    assert(clean.filter(col("n_skipped") > 0 || col("n_oversized") > 0 ||
      col("io_error")).count() === 0L)
    // a caller-tuned cap is respected end to end: at 10 bytes every
    // request/response drops as oversized (warcinfo's 32-byte payload too)
    val tiny = Warc.fileAudit(spark.read.format("binaryFile").load(cleanGlob)
      .select(col("path"), col("content")), maxRecordBytes = 10)
    assert(tiny.agg(sum("n_records"), sum("n_oversized")).collect().head
      .toSeq === Seq(0L, 84L))
    // a corrupt gzip HEADER no longer reads as a clean empty file
    val sc = WarcCodec.streamRecords(Array[Byte](0x1f, 0x8b.toByte, 99, 99, 99))
    assert(!sc.hasNext && sc.ioError)
  }

  test("crawl dedup consumed: refetched-identical responses drop BEFORE payload decode; stats account it") {
    import spark.implicits._
    val docs = (0L until 36L).map(i => (i, s"crawl dedup body $i", "en", "web", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = new java.io.File("target/test_warc_refetch").getAbsolutePath
    val glob = Warc.ensureWarcFiles(docs, dir, buckets = 2, withRefetch = true)
    val recs = Warc.read(spark, glob)
    // stage counts: the skip happens UPSTREAM of the HTTP split and the
    // HTML kernel — the deduped relation is still raw record rows
    val nResp = recs.filter(col("warc_type") === "response").count()
    assert(nResp === 42L, "36 first captures + 6 refetched duplicates")
    val first = Warc.firstCaptureResponses(recs)
    assert(first.count() === 36L, "every duplicate drops at the record tier")
    // the survivors are the JANUARY captures (min warc_date per capture)
    assert(first.filter(col("warc_date").startsWith("2023-02")).count() === 0L)
    // curate-over-deduped ≡ curate-over-the-never-refetched corpus
    val baseDir = new java.io.File("target/test_warc_refetch_base").getAbsolutePath
    val baseGlob = Warc.ensureWarcFiles(docs, baseDir, buckets = 2)
    def extracted(g: String, dedup: Boolean) = {
      val r = Warc.read(spark, g)
      Warc.htmlDocuments(Warc.responses(
          if (dedup) Warc.firstCaptureResponses(r) else r))
        .collect().map(x => (x.getString(0), x.getString(2), x.getString(3))).toSet
    }
    assert(extracted(glob, dedup = true) === extracted(baseGlob, dedup = false))
    // the accounting row
    val stats = Warc.crawlDedupStats(recs).collect().head
    assert(stats.toSeq === Seq(42L, 36L, 6L, 6L))
  }

  test("pdf tier: crawled PDFs extract through the documents surface; yield flags them extractable") {
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, s"pdf corpus body $i", "en", "web", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = new java.io.File("target/test_warc_pdfs").getAbsolutePath
    val glob = Warc.ensureWarcFiles(docs, dir, buckets = 2, withPdfs = true)
    val resp = Warc.responses(Warc.read(spark, glob))
    val routed = Warc.textDocuments(resp, withPdf = true)
    val pdfTexts = routed.filter(col("mime") === "application/pdf")
      .select(regexp_extract(col("url"), "/pdf/(\\d+)\\.pdf", 1).cast("long").as("id"),
        col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every 2nd doc fetched a PDF; doc 16 (id%9==7) planted damage
    assert(pdfTexts.keySet === (0L until 20L by 2).filter(_ % 9 != 7).toSet)
    pdfTexts.foreach { case (id, t) =>
      assert(t === graft.sources.PdfCodec.shownTextOf(id, s"pdf corpus body $id"), s"doc $id")
    }
    // the html half of the same corpus is untouched by the pdf branch
    assert(routed.filter(col("mime") === "text/html").count() === 20L)
    // yield accounting: application/pdf is now an extractable mime
    val y = Warc.mimeYield(resp).filter(col("mime") === "application/pdf").collect().head
    assert(y.getAs[Long]("n_responses") === 10L && y.getAs[Boolean]("extractable"))
    // default textDocuments keeps the single-branch plan (no pdf rows)
    assert(Warc.textDocuments(resp).filter(col("mime") === "application/pdf").count() === 0L)
  }

  test("streaming scanner: multi-megabyte record round-trips; oversized Content-Length is damage") {
    val big = new Array[Byte](3 * 1024 * 1024)
    new java.util.Random(7).nextBytes(big) // noise payload; length framing
    // wins over any accidental in-payload magic bytes
    val rec = WarcCodec.encodeRecord("resource", Some("http://big/1"),
      "2024-01-01T00:00:00Z", "<urn:big:1>", "application/octet-stream", big)
    val tail = WarcCodec.encodeRecord("response", Some("http://big/2"),
      "2024-01-01T00:00:00Z", "<urn:big:2>", "text/plain", "after".getBytes("UTF-8"))
    val got = WarcCodec.parseAll(WarcCodec.gzipMember(rec) ++ WarcCodec.gzipMember(tail))
    assert(got.length === 2)
    assert(java.util.Arrays.equals(got.head.payload, big),
      "a multi-MB payload must stream through intact")
    assert(new String(got(1).payload, "UTF-8") === "after")
    // a crafted Content-Length past maxRecordBytes is damage, not an OOM
    val crafted = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 99999999999\r\n\r\n").getBytes("UTF-8")
    assert(new WarcCodec.WarcScanner(
      new java.io.ByteArrayInputStream(crafted ++ tail)).toVector.length === 1,
      "oversized claim skips; the following record survives")
  }

  test("streaming JSONL ingestion == batch read over the same shards; corrupt lines quarantine") {
    import spark.implicits._
    val docs = (0L until 25L).map(i => (i, s"stream text $i", "en", "web", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = new java.io.File("target/test_jsonl_stream").getAbsolutePath
    // fresh dir: the file-streaming source tracks seen files per run
    val d = new java.io.File(dir)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(d); new java.io.File(dir, "in").mkdirs()
    val line = to_json(struct(
      col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")))
    docs.filter(col("doc_id") < 15).select(line).coalesce(1)
      .write.mode("overwrite").text(s"$dir/in/shard0")
    val stream = Warc.readJsonlStream(spark, s"$dir/in/*")
    assert(stream.isStreaming, "readJsonlStream must be a streaming frame")
    val q = stream.writeStream.format("memory").queryName("jsonl_stream_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("jsonl_stream_out").count() === 15L)
      // a second shard lands, with one corrupt line
      val shard1 = new java.io.File(dir, "in/shard1"); shard1.mkdirs()
      val lines = docs.filter(col("doc_id") >= 15).select(line)
        .collect().map(_.getString(0)).toSeq :+ "{broken json line"
      java.nio.file.Files.write(new java.io.File(shard1, "part-0.txt").toPath,
        lines.mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
      val streamed = spark.table("jsonl_stream_out")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = Warc.readJsonl(spark, s"$dir/in/*")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed.size === 25 && streamed === batch,
        "streaming ingestion must equal the batch read, corrupt line dropped")
    } finally q.stop()
  }
}
