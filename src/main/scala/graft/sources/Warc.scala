package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.IndexMeta

/** Raw-corpus ingestion: WARC (ISO 28500) and JSONL — the two formats a
  * real crawl pipeline starts from, upstream of everything else in the
  * engine (the `documents` table the curation surface consumes is what
  * these readers PRODUCE). The reference has no scan path at all
  * (hnsw.cc:336-346 synthesizes data in-process); this is
  * mandate-extension for the LLM-training-data pipeline.
  *
  * Scale design:
  *  - WARC files do not split mid-file (records are length-framed, and
  *    the CommonCrawl layout gzips each record as its own member — a
  *    byte offset inside a file is unreadable without an index), so the
  *    unit of parallelism is the SEGMENT FILE, exactly how every
  *    published WARC processor shards. Real crawls ship ~1 GiB segments
  *    in the tens of thousands per snapshot: at 100 TB that is ~100k
  *    independent file-tasks — more than any executor count needs. The
  *    scan is `binaryFile` (whole-file rows) into `mapPartitions`
  *    ([[graft.operators.Multimodal.Mp4Codec]] discipline):
  *    shuffle-free, embarrassingly parallel.
  *  - parsing is STREAMING, record-at-a-time ([[WarcScanner]]): a task
  *    holds the compressed file bytes plus AT MOST one decompressed
  *    record — a ~1 GiB segment inflating past 2 GiB (typical) never
  *    materializes whole, so the r15 whole-array OutOfMemoryError mode
  *    (an Error no damage guard can catch) is gone by construction.
  *    Damage resyncs at the next `WARC/` magic: a truncated/corrupt
  *    record skips instead of poisoning the file (a crawl ALWAYS
  *    contains damage).
  *  - HTTP payloads decode FOR REAL: `Transfer-Encoding: chunked`
  *    framing is undone, `Content-Encoding: gzip/deflate` bodies
  *    inflate, and text charsets resolve from the Content-Type header,
  *    then `<meta charset>`, then a UTF-8 fallback — the order RFC 9110
  *    / WHATWG prescribe. A real CommonCrawl segment is mostly
  *    chunked/compressed/non-UTF-8; decoding it as raw UTF-8 bytes (the
  *    r15 behavior) is a correctness bug this module no longer has.
  *  - JSONL reads under an EXPLICIT schema contract — schema inference
  *    at 100 TB is a second full pass over the corpus before the first
  *    useful byte; `mode=PERMISSIVE` + corrupt-record column quarantines
  *    damaged lines instead of failing the job.
  */
object WarcCodec {

  /** One parsed WARC record: the named headers a pipeline consumes plus
    * the raw payload block. `targetUri` is null for record types that
    * carry none (warcinfo). The revisit-family headers (ISO 28500
    * §6.7.2 — `WARC-Refers-To`, `WARC-Refers-To-Target-URI`,
    * `WARC-Payload-Digest`, `WARC-Profile`) surface so crawl-side
    * dedup accounting is not silently lost.
    */
  case class WarcRecord(warcType: String, targetUri: String, warcDate: String,
                        recordId: String, contentType: String,
                        payload: Array[Byte],
                        refersTo: String = null, refersToUri: String = null,
                        payloadDigest: String = null, warcProfile: String = null)

  // ---------------------------------------------------------------
  // encode — the synthesis/fixture side (deterministic, from-spec)
  // ---------------------------------------------------------------

  /** Serialize one record per ISO 28500 §4: version line, named headers,
    * CRLF, `Content-Length` payload octets, CRLF CRLF block end.
    * `extraHeaders` carry record-type-specific fields (the revisit
    * family) verbatim.
    */
  def encodeRecord(warcType: String, targetUri: Option[String], warcDate: String,
                   recordId: String, contentType: String,
                   payload: Array[Byte],
                   extraHeaders: Seq[(String, String)] = Nil): Array[Byte] = {
    val sb = new StringBuilder(160)
    sb.append("WARC/1.0\r\n")
    sb.append("WARC-Type: ").append(warcType).append("\r\n")
    sb.append("WARC-Record-ID: ").append(recordId).append("\r\n")
    sb.append("WARC-Date: ").append(warcDate).append("\r\n")
    targetUri.foreach(u => sb.append("WARC-Target-URI: ").append(u).append("\r\n"))
    extraHeaders.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("Content-Type: ").append(contentType).append("\r\n")
    sb.append("Content-Length: ").append(payload.length).append("\r\n\r\n")
    val head = sb.toString.getBytes("UTF-8")
    val out = new ByteArrayOutputStream(head.length + payload.length + 4)
    out.write(head, 0, head.length)
    out.write(payload, 0, payload.length)
    out.write('\r'); out.write('\n'); out.write('\r'); out.write('\n')
    out.toByteArray
  }

  /** One gzip member per record — the CommonCrawl `.warc.gz` layout
    * (members concatenate into one valid multi-member gzip stream).
    */
  def gzipMember(record: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(record.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(record); gz.finish(); gz.close()
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // decode
  // ---------------------------------------------------------------

  private val Magic = "WARC/".getBytes("UTF-8")

  def isGzip(b: Array[Byte]): Boolean =
    b.length > 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b

  /** Inflate a (possibly multi-member) gzip stream — JDK
    * `GZIPInputStream` reads concatenated members transparently, which
    * is exactly the per-record-member WARC layout. Fixture/HTTP-body
    * helper: SEGMENT files never inflate whole (see [[WarcScanner]]).
    * The size hint clamps through Long arithmetic — `b.length * 3`
    * wraps negative past 715 MB in Int.
    */
  def gunzipMembers(b: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(new ByteArrayInputStream(b), 64 * 1024)
    val hint = math.min(math.max(64L, b.length.toLong * 3L), 1L << 20).toInt
    val out = new ByteArrayOutputStream(hint)
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  private def byteIndexOf(hay: Array[Byte], needle: Array[Byte], from: Int, end: Int): Int = {
    var i = math.max(from, 0)
    val last = math.min(end, hay.length) - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** Bounded CRLF line read over `b[pos, min(limit, end))`: returns
    * (line-without-terminator, next pos) or null past the bound —
    * headers are small; an unterminated multi-MB "line" is damage,
    * not a header.
    */
  private def readLine(b: Array[Byte], pos: Int, limit: Int,
                       end: Int): (String, Int) = {
    var i = pos
    val max = math.min(end, limit)
    while (i < max && b(i) != '\n') i += 1
    if (i >= max) return null
    val lineEnd = if (i > pos && b(i - 1) == '\r') i - 1 else i // tolerate bare LF
    (new String(b, pos, lineEnd - pos, "UTF-8"), i + 1)
  }

  /** Parse one record headed at `pos` (which must point at `WARC/`)
    * within `b[pos, end)`. Returns the record and the position just
    * past its payload, or None when the block is damaged (bad version,
    * malformed header, missing or unparseable Content-Length,
    * truncated payload) — the caller resyncs at the next magic.
    */
  private[sources] def parseOne(b: Array[Byte], pos: Int,
                                end: Int): Option[(WarcRecord, Int)] = {
    val headerLimit = pos + 64 * 1024 // spec headers are tiny; bound the scan
    val first = readLine(b, pos, headerLimit, end)
    if (first == null || !first._1.startsWith("WARC/")) return None
    var p = first._2
    var warcType: String = null; var uri: String = null; var date: String = null
    var recId: String = null; var cType: String = null; var cLen = -1L
    var refersTo: String = null; var refersToUri: String = null
    var digest: String = null; var profile: String = null
    var line = readLine(b, p, headerLimit, end)
    while (line != null && line._1.nonEmpty) {
      val s = line._1
      val colon = s.indexOf(':')
      if (colon <= 0) return None // malformed named field
      val name = s.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
      val value = s.substring(colon + 1).trim
      name match {
        case "warc-type"       => warcType = value
        case "warc-target-uri" => uri = value
        case "warc-date"       => date = value
        case "warc-record-id"  => recId = value
        case "content-type"    => cType = value
        case "warc-refers-to"  => refersTo = value
        case "warc-refers-to-target-uri" => refersToUri = value
        case "warc-payload-digest" => digest = value
        case "warc-profile"    => profile = value
        case "content-length"  =>
          cLen = try value.toLong catch { case _: NumberFormatException => -1L }
        case _ => // unknown headers are legal; skip
      }
      p = line._2
      line = readLine(b, p, headerLimit, end)
    }
    if (line == null) return None                 // headers never terminated
    p = line._2                                   // past the blank line
    if (warcType == null || cLen < 0 || p + cLen > end) return None
    val payload = java.util.Arrays.copyOfRange(b, p, p + cLen.toInt)
    Some((WarcRecord(warcType, uri, date, recId, cType, payload,
      refersTo, refersToUri, digest, profile), p + cLen.toInt))
  }

  /** STREAMING record scanner: pulls one WARC record at a time off an
    * InputStream, holding at most the current record (plus a 64 KiB
    * header window) in memory — the decompressed segment never
    * materializes whole. Damage discipline matches the array parser
    * exactly: a malformed block skips forward to the next `WARC/`
    * magic; a Content-Length past `maxRecordBytes` is treated as
    * damage (a crafted header cannot OOM an executor task); any
    * upstream IO error (corrupt gzip mid-stream) reads as EOF — the
    * records already emitted stand, the rest of the file is skipped.
    */
  final class WarcScanner(in: InputStream,
                          maxRecordBytes: Int = 256 << 20)
      extends Iterator[WarcRecord] {
    private var buf = new Array[Byte](64 * 1024)
    private var len = 0            // valid bytes in buf[0, len)
    private var eof = false
    private var from = 0           // next magic-scan offset
    private var nextRec: WarcRecord = _

    // Damage ACCOUNTING (r17): the skip policies below are deliberate
    // (a crawl always contains damage; resync-and-continue beats
    // poisoning the file), but silent loss is not — these counters let
    // [[Warc.fileAudit]] distinguish a clean small file from a
    // systematically corrupt corpus that parses as a small-but-
    // successful one.
    /** Records successfully emitted. */
    var nRecords: Long = 0L
    /** Damaged blocks skipped (malformed header, truncated payload,
      * spurious magic inside garbage — each failed resync counts once).
      */
    var nSkipped: Long = 0L
    /** Records dropped because their declared Content-Length exceeds
      * `maxRecordBytes` (the anti-OOM policy — a crafted header cannot
      * allocate past the cap; a LEGITIMATE large record, e.g. a video
      * capture, is also dropped, which is why the count exists and the
      * cap is caller-tunable).
      */
    var nOversized: Long = 0L
    /** An upstream IO/decompression error was converted to EOF (corrupt
      * gzip mid-stream, truncated file): the records already emitted
      * stand, but the file did NOT parse to a clean end.
      */
    var ioError: Boolean = false

    /** Read until `buf` holds ≥ `target` bytes or EOF; IO errors = EOF. */
    private def fill(target: Int): Unit = {
      if (target > buf.length) {
        val grown = new Array[Byte](math.max(target, buf.length * 2))
        System.arraycopy(buf, 0, grown, 0, len)
        buf = grown
      }
      while (!eof && len < target) {
        val n = try in.read(buf, len, buf.length - len)
          catch { case _: Exception => ioError = true; -1 } // corrupt stream: stop, keep what parsed
        if (n < 0) eof = true else len += n
      }
    }

    /** Drop the first `n` consumed bytes. */
    private def compact(n: Int): Unit = {
      if (n > 0) { System.arraycopy(buf, n, buf, 0, len - n); len -= n }
    }

    private def advance(): WarcRecord = {
      while (true) {
        fill(from + 64 * 1024)
        val at = byteIndexOf(buf, Magic, from, len)
        if (at < 0) {
          if (eof) return null
          // keep a magic-length-1 tail so a boundary-straddling magic
          // survives the compaction, then pull the next window
          compact(math.max(0, len - (Magic.length - 1)))
          from = 0
          fill(buf.length) // extend past the kept tail
        } else {
          compact(at); from = 0
          fill(64 * 1024) // the full header window for this record
          parseHere() match {
            case Some(rec) => return rec
            case None =>
              if (eof && byteIndexOf(buf, Magic, Magic.length, len) < 0) return null
              from = Magic.length // resync past this magic
          }
        }
      }
      null
    }

    /** Try to parse the record at buf[0] (a magic position): extend the
      * buffer to the payload end first so truncation is genuine damage,
      * not an under-filled buffer.
      */
    private def parseHere(): Option[WarcRecord] = {
      // probe pass: find Content-Length + header end within the window
      parseProbe() match {
        case Some((headerEnd, cLen)) =>
          if (cLen > maxRecordBytes) { nOversized += 1; None }
          else {
            val need = headerEnd + cLen.toInt
            fill(need)
            if (len < need) { nSkipped += 1; None } // truncated payload: damage
            else parseOne(buf, 0, len) match {
              case Some((rec, consumed)) =>
                compact(consumed); nRecords += 1; Some(rec)
              case None => nSkipped += 1; None
            }
          }
        case None => nSkipped += 1; None
      }
    }

    /** Header-only scan: (payload start, Content-Length) or None. */
    private def parseProbe(): Option[(Int, Long)] = {
      val headerLimit = 64 * 1024
      val first = readLine(buf, 0, headerLimit, len)
      if (first == null || !first._1.startsWith("WARC/")) return None
      var p = first._2
      var cLen = -1L
      var line = readLine(buf, p, headerLimit, len)
      while (line != null && line._1.nonEmpty) {
        val s = line._1
        val colon = s.indexOf(':')
        if (colon <= 0) return None
        if (s.substring(0, colon).trim.equalsIgnoreCase("content-length"))
          cLen = try s.substring(colon + 1).trim.toLong
            catch { case _: NumberFormatException => -1L }
        p = line._2
        line = readLine(buf, p, headerLimit, len)
      }
      if (line == null || cLen < 0) None else Some((line._2, cLen))
    }

    override def hasNext: Boolean = {
      if (nextRec == null) nextRec = advance()
      nextRec != null
    }
    override def next(): WarcRecord = {
      if (!hasNext) throw new NoSuchElementException("WarcScanner exhausted")
      val r = nextRec; nextRec = null; r
    }
  }

  /** Streaming records of one raw file payload (gzip-transparent).
    * Damage anywhere — corrupt gzip, truncated record, garbage between
    * records — never throws and never hides the records that ARE
    * intact.
    */
  def streamRecords(raw: Array[Byte],
                    maxRecordBytes: Int = 256 << 20): WarcScanner = {
    val base = new ByteArrayInputStream(raw)
    var headerError = false
    val in: InputStream =
      if (isGzip(raw))
        try new java.util.zip.GZIPInputStream(base, 64 * 1024)
        catch { case _: Exception =>
          headerError = true; new ByteArrayInputStream(Array.empty[Byte])
        }
      else base
    val sc = new WarcScanner(in, maxRecordBytes)
    // a gzip HEADER failure substitutes an empty stream (damage
    // discipline) but must not read as a clean empty file
    if (headerError) sc.ioError = true
    sc
  }

  /** All parseable records of one WARC file — the materialized form of
    * [[streamRecords]] (fixture/spec convenience; the scan path stays
    * streaming).
    */
  def parseAll(raw: Array[Byte]): Vector[WarcRecord] = streamRecords(raw).toVector

  // ---------------------------------------------------------------
  // HTTP payload (application/http; msgtype=response)
  // ---------------------------------------------------------------

  /** The response half a crawler stores, DECODED: status code, media
    * type (Content-Type up to any `;` parameter, lowercased), resolved
    * text charset (header param → `<meta charset>` sniff → "utf-8"),
    * and the body octets with chunked framing and gzip/deflate content
    * coding undone — real crawl payloads are stored as-fetched, so the
    * stored octets are NOT the page bytes until both layers unwrap.
    */
  case class HttpResponse(status: Int, mime: String, charset: String,
                          body: Array[Byte])

  /** Undo `Transfer-Encoding: chunked` (RFC 9112 §7.1): hex size line
    * (chunk extensions tolerated), data, CRLF, … , 0-chunk; trailers
    * ignored. None on malformed framing — damage, skip the record.
    */
  private[sources] def dechunk(b: Array[Byte]): Option[Array[Byte]] = {
    val out = new ByteArrayOutputStream(math.max(64, b.length))
    var pos = 0
    while (true) {
      val line = readLine(b, pos, pos + 1024, b.length)
      if (line == null) return None
      val sizeStr = line._1.split(";")(0).trim
      val size = try Integer.parseInt(sizeStr, 16)
        catch { case _: NumberFormatException => return None }
      if (size < 0) return None
      pos = line._2
      if (size == 0) return Some(out.toByteArray) // trailers ignored
      if (pos + size > b.length) return None
      out.write(b, pos, size)
      pos += size
      if (pos + 2 <= b.length && b(pos) == '\r' && b(pos + 1) == '\n') pos += 2
      else if (pos < b.length && b(pos) == '\n') pos += 1
      else return None
    }
    None
  }

  /** Undo `Content-Encoding: deflate` — zlib-wrapped per the RFC, raw
    * DEFLATE as the widely-shipped server bug fallback.
    */
  private def inflateDeflate(b: Array[Byte]): Option[Array[Byte]] = {
    def run(nowrap: Boolean): Option[Array[Byte]] = try {
      val inf = new java.util.zip.Inflater(nowrap)
      inf.setInput(b)
      val out = new ByteArrayOutputStream(math.max(64, b.length * 2))
      val chunk = new Array[Byte](64 * 1024)
      while (!inf.finished()) {
        val n = inf.inflate(chunk)
        if (n == 0 && inf.needsInput()) { inf.end(); return None } // truncated
        out.write(chunk, 0, n)
      }
      inf.end()
      Some(out.toByteArray)
    } catch { case _: Exception => None }
    run(nowrap = false).orElse(run(nowrap = true))
  }

  private val MetaCharset = java.util.regex.Pattern.compile(
    "(?i)<meta[^>]*charset\\s*=\\s*[\"']?([A-Za-z0-9._:-]+)")

  /** WHATWG-style prescan of the first 4 KiB for `<meta charset=…>` /
    * `<meta http-equiv=Content-Type content="…charset=…">` (the
    * pattern matches the charset= in either form). ISO-8859-1 view —
    * byte-preserving, and the markup itself is ASCII.
    */
  private[sources] def sniffMetaCharset(body: Array[Byte]): String = {
    val n = math.min(body.length, 4096)
    val head = new String(body, 0, n, "ISO-8859-1")
    val m = MetaCharset.matcher(head)
    if (m.find()) m.group(1).toLowerCase(java.util.Locale.ROOT) else ""
  }

  /** Decode text bytes under a claimed charset name, falling back to
    * UTF-8 (with replacement) when the label is unknown — a crawl
    * carries every misspelled charset label ever served.
    */
  def decodeText(body: Array[Byte], charset: String): String = {
    val cs =
      try java.nio.charset.Charset.forName(charset)
      catch { case _: Exception => java.nio.charset.StandardCharsets.UTF_8 }
    new String(body, cs)
  }

  /** Decode a stored HTTP response, or say exactly WHY it cannot be
    * decoded. The Left reasons form the skip-accounting vocabulary
    * ([[graft.sources.Warc.responseSkips]]):
    *   - `bad_status_line` — not an HTTP response head
    *   - `bad_headers` — header block never terminated
    *   - `bad_chunked` — malformed chunked transfer framing
    *   - `bad_gzip` / `bad_deflate` — content coding claimed but the
    *     body does not inflate
    *   - `unknown_coding:<name>` — a content coding this decoder does
    *     not implement. DECLARED LIMITATION: `br` (RFC 7932) lands
    *     here — a from-spec brotli decoder needs the published 120 KiB
    *     static dictionary verbatim, which cannot be synthesized from
    *     the spec's prose, so the loss is surfaced through this
    *     accounting instead of silently flatMapped away (the r16
    *     behavior this refactor removes).
    */
  def decodeHttpResponse(p: Array[Byte]): Either[String, HttpResponse] = {
    val limit = math.min(p.length, 64 * 1024)
    val status = readLine(p, 0, limit, p.length)
    if (status == null) return Left("bad_status_line")
    val parts = status._1.split(" ", 3)
    if (parts.length < 2 || !parts(0).startsWith("HTTP/")) return Left("bad_status_line")
    val code = try parts(1).toInt
      catch { case _: NumberFormatException => return Left("bad_status_line") }
    var pos = status._2
    var mime = ""; var headerCharset = ""
    var transferEnc = ""; var contentEnc = ""
    var line = readLine(p, pos, limit, p.length)
    while (line != null && line._1.nonEmpty) {
      val s = line._1
      val colon = s.indexOf(':')
      if (colon > 0) {
        val name = s.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
        val v = s.substring(colon + 1).trim
        name match {
          case "content-type" =>
            val semi = v.indexOf(';')
            mime = (if (semi < 0) v else v.substring(0, semi)).trim
              .toLowerCase(java.util.Locale.ROOT)
            if (semi >= 0) {
              val m = java.util.regex.Pattern
                .compile("(?i)charset\\s*=\\s*[\"']?([A-Za-z0-9._:-]+)")
                .matcher(v.substring(semi))
              if (m.find()) headerCharset = m.group(1).toLowerCase(java.util.Locale.ROOT)
            }
          case "transfer-encoding" => transferEnc = v.toLowerCase(java.util.Locale.ROOT)
          case "content-encoding"  => contentEnc = v.toLowerCase(java.util.Locale.ROOT)
          case _ =>
        }
      }
      pos = line._2
      line = readLine(p, pos, limit, p.length)
    }
    if (line == null) return Left("bad_headers") // header block never terminated
    val raw = java.util.Arrays.copyOfRange(p, line._2, p.length)
    // transfer coding is the OUTER layer (it framed the wire transfer);
    // content coding is inside it
    val unframed =
      if (transferEnc.contains("chunked"))
        dechunk(raw).toRight("bad_chunked")
      else Right(raw)
    unframed.flatMap { u =>
      val body: Either[String, Array[Byte]] = contentEnc match {
        case "" | "identity" => Right(u)
        case "gzip" | "x-gzip" =>
          try Right(gunzipMembers(u)) catch { case _: Exception => Left("bad_gzip") }
        case "deflate" => inflateDeflate(u).toRight("bad_deflate")
        case other => Left(s"unknown_coding:$other")
      }
      body.map { b =>
        val cs =
          if (headerCharset.nonEmpty) headerCharset
          else if (mime == "text/html") {
            val sniffed = sniffMetaCharset(b)
            if (sniffed.nonEmpty) sniffed else "utf-8"
          } else "utf-8"
        HttpResponse(code, mime, cs, b)
      }
    }
  }

  def parseHttpResponse(p: Array[Byte]): Option[HttpResponse] =
    decodeHttpResponse(p).toOption
}

/** DataFrame surface over [[WarcCodec]] plus the JSONL documents path. */
object Warc {

  val recordSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("record_ix", IntegerType, nullable = false),
    StructField("warc_type", StringType, nullable = true),
    StructField("url", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("record_id", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("refers_to", StringType, nullable = true),
    StructField("refers_to_uri", StringType, nullable = true),
    StructField("payload_digest", StringType, nullable = true),
    StructField("warc_profile", StringType, nullable = true)))

  /** One row per parseable WARC record of every file row in `files`
    * (`path` string + `content` binary — the `binaryFile` shape).
    * Shuffle-free `mapPartitions`, records STREAMED out per file
    * ([[WarcCodec.streamRecords]]) — peak task memory is one
    * compressed file plus one record, and `batchSize` defaults to 1 so
    * grouped batching never pins several segment files at once.
    */
  def records(files: DataFrame, batchSize: Int = 1,
              maxRecordBytes: Int = 256 << 20): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(recordSchema)
    files.select(col("path").cast("string"), col("content")).mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val path = r.getString(0)
          val recs: Iterator[WarcCodec.WarcRecord] =
            try WarcCodec.streamRecords(r.getAs[Array[Byte]](1), maxRecordBytes)
            catch { case _: Exception => Iterator.empty }
          recs.zipWithIndex.map { case (w, ix) =>
            Row(path, ix, w.warcType, w.targetUri, w.warcDate, w.recordId,
              w.contentType, w.payload.length.toLong, w.payload,
              w.refersTo, w.refersToUri, w.payloadDigest, w.warcProfile)
          }
        }
      }
    }(enc)
  }

  /** Read WARC segment files (`.warc` / `.warc.gz`, glob accepted) into
    * the per-record relation. The whole-file `binaryFile` scan is the
    * correct split unit — see the object doc. `maxRecordBytes` is the
    * anti-OOM record cap (a crafted Content-Length is damage, not an
    * allocation); raise it for corpora that legitimately carry very
    * large records (video captures) — [[fileAudit]]'s `n_oversized`
    * says whether the default is dropping anything.
    */
  def read(spark: SparkSession, glob: String, batchSize: Int = 1,
           maxRecordBytes: Int = 256 << 20): DataFrame =
    records(spark.read.format("binaryFile").load(glob)
      .select(col("path"), col("content")), batchSize, maxRecordBytes)

  val fileAuditSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("n_records", LongType, nullable = false),
    StructField("n_skipped", LongType, nullable = false),
    StructField("n_oversized", LongType, nullable = false),
    StructField("io_error", BooleanType, nullable = false)))

  /** Per-file parse AUDIT: how many records emitted, how many damaged
    * blocks skipped, how many dropped by the `maxRecordBytes` anti-OOM
    * cap, and whether an upstream IO/decompression error truncated the
    * parse — the fetch-QA relation that distinguishes a clean small
    * file from a systematically corrupt corpus reading as a
    * small-but-successful one (both looked identical before r17).
    * Same shuffle-free whole-file `mapPartitions` shape as [[records]];
    * payloads are scanned and dropped, never held.
    */
  def fileAudit(files: DataFrame, maxRecordBytes: Int = 256 << 20): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(fileAuditSchema)
    files.select(col("path").cast("string"), col("content")).mapPartitions { rows =>
      rows.map { r =>
        val sc = WarcCodec.streamRecords(r.getAs[Array[Byte]](1), maxRecordBytes)
        while (sc.hasNext) sc.next()
        Row(r.getString(0), sc.nRecords, sc.nSkipped, sc.nOversized, sc.ioError)
      }
    }(enc)
  }

  val responseSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = true),
    StructField("warc_ts", StringType, nullable = true),
    StructField("status", IntegerType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("charset", StringType, nullable = true),
    StructField("body", BinaryType, nullable = false),
    StructField("body_text", StringType, nullable = true)))

  /** The crawl's fetched pages: each `response` record's HTTP payload
    * split into status/mime/charset/body, with transfer and content
    * codings undone ([[WarcCodec.parseHttpResponse]]); `body_text` is
    * the charset-decoded string for text mimes (null otherwise —
    * binary payloads have no text form). Unparseable payloads skip
    * (damage, again). Narrow `mapPartitions` over [[records]] — still
    * no shuffle end to end from the file scan.
    */
  def responses(recs: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(responseSchema)
    recs
      .filter(col("warc_type") === "response" &&
        col("content_type").startsWith("application/http"))
      .select("url", "warc_date", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          WarcCodec.parseHttpResponse(r.getAs[Array[Byte]](2)).map { h =>
            val text =
              if (h.mime.startsWith("text/")) WarcCodec.decodeText(h.body, h.charset)
              else null
            Row(r.getString(0), r.getString(1), h.status, h.mime, h.charset,
              h.body, text)
          }
        }
      }(enc)
  }

  val responseSkipSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = true),
    StructField("warc_ts", StringType, nullable = true),
    StructField("reason", StringType, nullable = false)))

  /** The responses [[responses]] CANNOT decode, with the reason —
    * `(url, warc_ts, reason)` per undecodable payload
    * ([[WarcCodec.decodeHttpResponse]]'s Left vocabulary:
    * bad_status_line / bad_headers / bad_chunked / bad_gzip /
    * bad_deflate / unknown_coding:&lt;name&gt;). Before r17 these rows
    * silently flatMapped away and never reached [[mimeYield]] — the
    * yield accounting could not see how much corpus the DECODER itself
    * dropped (e.g. every brotli-encoded page). Same narrow
    * shuffle-free `mapPartitions` shape as [[responses]]; a pipeline
    * counts `groupBy(reason)` to state the loss exactly.
    */
  def responseSkips(recs: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(responseSkipSchema)
    recs
      .filter(col("warc_type") === "response" &&
        col("content_type").startsWith("application/http"))
      .select("url", "warc_date", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          WarcCodec.decodeHttpResponse(r.getAs[Array[Byte]](2)).left.toOption
            .map(reason => Row(r.getString(0), r.getString(1), reason))
        }
      }(enc)
  }

  /** Crawl-side dedup CONSUMED (r17): drop refetched-identical
    * responses BEFORE any payload decoding. A real crawl stores the
    * same page repeatedly — as `revisit` pointer records when the
    * crawler's own dedup caught the refetch (those carry no payload
    * and never enter [[responses]]), and as full duplicate `response`
    * records when it did not (cross-segment refetches). This keeps,
    * per `(url, payload digest)`, only the FIRST capture; every later
    * identical refetch is dropped before the HTTP split / charset
    * decode / HTML kernel ever run — the crawl's dedup signal saving
    * extraction work, not just being audited ([[revisits]]).
    *
    * Scale shape: the winner decision moves only slim
    * `(url, digest, warc_date)` rows (the sha1 is computed codegen-side
    * below the aggregate — payloads never shuffle); the drop set
    * (`losers`) is refetch-mass-sized, so the final anti-join
    * broadcasts it in the common case and the payload-bearing side
    * stays in place.
    */
  def firstCaptureResponses(recs: DataFrame): DataFrame = {
    val resp = recs.filter(col("warc_type") === "response" &&
      col("content_type").startsWith("application/http"))
    val slim = resp.select(col("url"), col("warc_date"),
      sha1(col("payload")).as("digest"))
    val winners = slim.groupBy("url", "digest")
      .agg(min(col("warc_date")).as("first_ts"))
    val losers = slim.join(winners, Seq("url", "digest"))
      .filter(col("warc_date") > col("first_ts"))
      .select("url", "warc_date").distinct()
    resp.join(losers, Seq("url", "warc_date"), "left_anti")
  }

  /** One-row accounting of what the crawl-side dedup consumed:
    * responses seen, unique first captures kept, duplicate refetches
    * dropped, and revisit pointer records (the crawler's own dedup —
    * payload-free by construction). One aggregate over slim columns.
    */
  def crawlDedupStats(recs: DataFrame): DataFrame =
    recs.filter(col("warc_type").isin("response", "revisit"))
      .select(col("warc_type"),
        when(col("warc_type") === "response",
          concat_ws("|", col("url"), sha1(col("payload")))).as("capture_key"))
      .agg(
        sum(when(col("warc_type") === "response", 1L).otherwise(0L)).as("n_responses"),
        countDistinct(col("capture_key")).as("n_unique"),
        sum(when(col("warc_type") === "revisit", 1L).otherwise(0L)).as("n_revisit_pointers"))
      .select(col("n_responses"), col("n_unique"),
        (col("n_responses") - col("n_unique")).as("n_refetch_dropped"),
        col("n_revisit_pointers"))

  /** Crawl-exchange audit: each RESPONSE joined to its REQUEST record
    * by (target URI, capture timestamp) — the fetch-QA relation a
    * crawl pipeline audits (an unpaired response signals a truncated
    * capture session or an out-of-band fetch, e.g. embedded media
    * pulled without a logged request).
    *
    * ONE pass over the files: request rows and parsed response rows
    * come out of the same narrow `mapPartitions` projection, which is
    * checkpointed before the two sides fork — the r15 shape re-ran the
    * whole binaryFile + gunzip + record parse once per side.
    */
  def exchanges(recs: DataFrame): DataFrame = {
    val rowSchema = StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("url", StringType, nullable = true),
      StructField("warc_ts", StringType, nullable = true),
      StructField("status", IntegerType, nullable = true),
      StructField("mime", StringType, nullable = true),
      StructField("body_len", LongType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(rowSchema)
    val narrow = graft.operators.Dedup.checkpointed(
      recs.filter(col("warc_type").isin("request", "response"))
        .select("warc_type", "url", "warc_date", "content_type", "payload")
        .mapPartitions { rows =>
          rows.flatMap { r =>
            if (r.getString(0) == "request")
              Iterator(Row("request", r.getString(1), r.getString(2), null, null, null))
            else if (r.getString(3) != null &&
                r.getString(3).startsWith("application/http"))
              WarcCodec.parseHttpResponse(r.getAs[Array[Byte]](4)).iterator.map { h =>
                Row("response", r.getString(1), r.getString(2), h.status, h.mime,
                  h.body.length.toLong)
              }
            else Iterator.empty
          }
        }(enc))
    val reqs = narrow.filter(col("kind") === "request")
      .select(col("url").as("r_url"), col("warc_ts").as("r_ts")).distinct()
    narrow.filter(col("kind") === "response")
      .select(col("url"), col("warc_ts"), col("status"), col("mime"), col("body_len"))
      .join(reqs, col("url") === col("r_url") && col("warc_ts") === col("r_ts"), "left")
      .select(col("url"), col("warc_ts"), col("status"), col("mime"),
        col("body_len"), col("r_url").isNotNull.as("paired"))
  }

  /** Per-mime crawl YIELD accounting — the relation that makes
    * curation yield measurable before anything heavy runs: how many
    * responses arrived per media type, how many fetched OK, and
    * whether this engine's documents surface extracts them
    * (`text/html` through the HTML kernel, `text/plain` verbatim;
    * everything else is routed-but-skipped and the count says exactly
    * how much). One hash aggregate over the parsed response relation.
    */
  def mimeYield(resp: DataFrame): DataFrame =
    resp.groupBy("mime").agg(
        count(lit(1)).as("n_responses"),
        sum(when(col("status") === 200, 1L).otherwise(0L)).as("n_ok"))
      .withColumn("extractable",
        col("mime") === "text/html" || col("mime") === "text/plain" ||
          col("mime") === "application/pdf")

  /** The crawl-to-curation bridge: 200-status `text/html` responses as
    * `(url, canonical_url, warc_ts, text)` rows — extracted through the
    * [[graft.functions.HtmlKernels]] codegen pass over the
    * CHARSET-DECODED body, canonicalized through
    * [[graft.functions.UrlKernels]]. Output composes directly into
    * `CorpusPipeline.curate` (after assigning a doc id) — the equality
    * against a pre-extracted documents table is spec-pinned.
    */
  def htmlDocuments(resp: DataFrame): DataFrame =
    resp.filter(col("status") === 200 && col("mime") === "text/html")
      .select(
        col("url"),
        graft.operators.TextAnalysis.canonicalUrl(col("url")).as("canonical_url"),
        col("warc_ts"),
        graft.operators.TextAnalysis.htmlText(col("body_text")).as("text"))

  /** The MIME-ROUTED documents surface: `text/html` responses extract
    * through the HTML kernel, `text/plain` responses flow through
    * verbatim (a real segment is ~40% non-HTML; plain text is corpus
    * the pipeline must not drop). Non-text mimes route to the media
    * tier instead ([[mimeYield]] accounts for them).
    */
  def textDocuments(resp: DataFrame, withPdf: Boolean = false): DataFrame = {
    val textual = resp.filter(col("status") === 200 &&
        (col("mime") === "text/html" || col("mime") === "text/plain"))
      .select(
        col("url"),
        graft.operators.TextAnalysis.canonicalUrl(col("url")).as("canonical_url"),
        col("warc_ts"),
        when(col("mime") === "text/html",
          graft.operators.TextAnalysis.htmlText(col("body_text")))
          .otherwise(col("body_text")).as("text"),
        col("mime"))
    // the PDF route is opt-IN: it adds a second consumer branch over
    // `resp` (one more pass over the upstream scan), so callers without
    // PDFs in their corpus keep the single-branch plan
    if (withPdf) textual.unionByName(pdfDocuments(resp)) else textual
  }

  /** `application/pdf` responses extracted through the from-spec
    * [[PdfCodec]] — the third extractable mime of the documents
    * surface ([[mimeYield]] flags it). Undecodable documents
    * damage-skip (truncated mid-transfer PDFs are routine in a
    * crawl); the kernel is per-document and the pass stays batched
    * `mapPartitions`, shuffle-free.
    */
  def pdfDocuments(resp: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("url", StringType, nullable = true),
      StructField("warc_ts", StringType, nullable = true),
      StructField("text", StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    resp.filter(col("status") === 200 && col("mime") === "application/pdf")
      .select("url", "warc_ts", "body")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          PdfCodec.extractText(r.getAs[Array[Byte]](2))
            .map(t => Row(r.getString(0), r.getString(1), t))
        }
      }(enc)
      .select(col("url"),
        graft.operators.TextAnalysis.canonicalUrl(col("url")).as("canonical_url"),
        col("warc_ts"), col("text"), lit("application/pdf").as("mime"))
  }

  /** WARC `revisit` records (ISO 28500 §6.7.2) — the crawl-side dedup
    * signal CommonCrawl emits when a refetched URL's payload digest
    * matches an earlier capture — paired with the response they point
    * at (`WARC-Refers-To` → record id). `original_found = false` rows
    * are dangling references (the original lives in another segment or
    * was lost): the accounting a crawl-dedup audit needs.
    */
  def revisits(recs: DataFrame): DataFrame = {
    // ONE parse pass: both sides (revisit rows, original record ids)
    // fork from a checkpointed payload-free projection — the
    // exchanges() discipline (an uncut plan would re-run the
    // binaryFile + parse subtree per side)
    val narrow = graft.operators.Dedup.checkpointed(
      recs.filter(col("warc_type").isin("response", "revisit"))
        .select("warc_type", "url", "warc_date", "record_id",
          "refers_to", "refers_to_uri", "warc_profile", "payload_digest"))
    val originals = narrow.filter(col("warc_type") === "response")
      .select(col("record_id").as("orig_record_id"))
      .distinct()
    narrow.filter(col("warc_type") === "revisit")
      .select(col("url"), col("warc_date"), col("record_id"),
        col("refers_to"), col("refers_to_uri"), col("warc_profile"),
        col("payload_digest"))
      .join(originals, col("refers_to") === col("orig_record_id"), "left")
      .select(col("url"), col("warc_date"), col("refers_to"),
        col("refers_to_uri"), col("warc_profile"), col("payload_digest"),
        col("orig_record_id").isNotNull.as("original_found"))
  }

  // ---------------------------------------------------------------
  // Deterministic synthesis: the documents table AS a crawl
  // ---------------------------------------------------------------
  // Every field below is a pure formula of (doc_id, text, n_chars), so
  // DuckDB oracles the PARSED output closed-form while the engine runs
  // the real byte-level codec — the Mp4Codec fixture discipline.

  def urlOf(id: Long): String =
    s"http://Site${id % 5}.Example.com/doc/$id?utm_source=synth"

  def dateOf(id: Long): String =
    f"2023-01-${id % 28 + 1}%02dT00:00:${id % 60}%02dZ"

  val warcinfoPayload = "software: graft synthetic warc\r\n"

  def requestPayload(id: Long): String =
    s"GET /doc/$id HTTP/1.1\r\nHost: site${id % 5}.example.com\r\n\r\n"

  def responsePayload(text: String): String = {
    val body = s"<html><body><p>$text</p></body></html>"
    s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n" +
      s"Content-Length: ${body.getBytes("UTF-8").length}\r\n\r\n$body"
  }

  // ---- encoding-variant responses (the real-crawl transfer stack) ----
  // Variant v = doc_id % 5 — all five produce the SAME extracted text
  // (documents.text + the closed-form suffix), which is the whole
  // point: if any decode layer is wrong, that variant's text drifts
  // and the oracle hash catches it.
  //   0: identity UTF-8 (the r15 baseline shape)
  //   1: Content-Encoding: gzip
  //   2: Transfer-Encoding: chunked (no Content-Length — per RFC)
  //   3: ISO-8859-1 text with a non-ASCII suffix; charset declared in
  //      the header (even id/5) or ONLY via <meta charset> (odd id/5)
  //   4: windows-1252 text (a cp1252-only € in the suffix), gzip
  //      INSIDE chunked — the full stack at once

  def encSuffix(id: Long): String = (id % 5) match {
    case 3 => " caf\u00e9"      // é = 0xE9 in latin-1: UTF-8 misread breaks it
    case 4 => " \u20ac42"       // € = 0x80 only in cp1252
    case _ => ""
  }

  private def chunkedOf(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length + 32)
    def chunk(off: Int, n: Int): Unit = if (n > 0) {
      val hex = Integer.toHexString(n).getBytes("US-ASCII")
      out.write(hex, 0, hex.length); out.write('\r'); out.write('\n')
      out.write(b, off, n); out.write('\r'); out.write('\n')
    }
    val mid = b.length / 2
    chunk(0, mid); chunk(mid, b.length - mid)
    out.write("0\r\n\r\n".getBytes("US-ASCII"), 0, 5)
    out.toByteArray
  }

  def encResponsePayload(id: Long, text: String): Array[Byte] = {
    val v = (id % 5).toInt
    val meta =
      if (v == 3 && (id / 5) % 2 == 1) "<meta charset=\"iso-8859-1\">" else ""
    val html = s"<html><body>$meta<p>$text${encSuffix(id)}</p></body></html>"
    val charset = v match {
      case 3 => "ISO-8859-1"
      case 4 => "windows-1252"
      case _ => "UTF-8"
    }
    val body0 = html.getBytes(charset)
    val (body1, ceHdr) =
      if (v == 1 || v == 4) (WarcCodec.gzipMember(body0), "Content-Encoding: gzip\r\n")
      else (body0, "")
    val (body2, teHdr) =
      if (v == 2 || v == 4) (chunkedOf(body1), "Transfer-Encoding: chunked\r\n")
      else (body1, "")
    val ctParam =
      if (v == 3 && (id / 5) % 2 == 1) "" // meta-only declaration
      else s"; charset=$charset"
    val lenHdr =
      if (v == 2 || v == 4) "" else s"Content-Length: ${body2.length}\r\n"
    val head = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html$ctParam\r\n" +
      ceHdr + teHdr + lenHdr + "\r\n").getBytes("UTF-8")
    head ++ body2
  }

  // ---- skip-reason variant responses (decoder-loss accounting) ----
  // Variant v = doc_id % 6 — v = 0 decodes clean; 1..5 each plant ONE
  // decode-failure mode, text-independent by construction (the damaged
  // layer fails before any body byte is interpreted), so the skip
  // relation is a pure formula of doc_id.

  def skipReasonOf(id: Long): String = (id % 6) match {
    case 1 => "unknown_coding:br"
    case 2 => "bad_chunked"
    case 3 => "bad_gzip"
    case 4 => "bad_headers"
    case 5 => "bad_status_line"
    case _ => null
  }

  def skipResponsePayload(id: Long, text: String): Array[Byte] = (id % 6) match {
    case 1 => // a coding this decoder declares it cannot inflate (RFC 7932)
      val body = s"BR-OPAQUE-$id".getBytes("UTF-8")
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        s"Content-Encoding: br\r\nContent-Length: ${body.length}\r\n\r\n")
        .getBytes("UTF-8") ++ body
    case 2 => // chunk size line is not hex: malformed framing
      ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        "Transfer-Encoding: chunked\r\n\r\nZZ\r\nbroken").getBytes("UTF-8")
    case 3 => // gzip claimed, body is not a gzip stream
      val body = s"NOT-GZIP-$id".getBytes("UTF-8")
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        s"Content-Encoding: gzip\r\nContent-Length: ${body.length}\r\n\r\n")
        .getBytes("UTF-8") ++ body
    case 4 => // header block never terminates
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nX-Incomplete: cut"
        .getBytes("UTF-8")
    case 5 => // not an HTTP response head at all
      "GOPHER-GARBAGE 200 NOPE\r\n\r\n".getBytes("UTF-8")
    case _ => responsePayload(text).getBytes("UTF-8")
  }

  /** The two per-document records (request + response), encoded.
    * `withEncodings` swaps the identity-UTF-8 response body for the
    * per-variant transfer stack above; `withSkips` for the per-variant
    * decode-failure stack.
    */
  def recordsOf(id: Long, text: String,
                withEncodings: Boolean = false,
                withSkips: Boolean = false): Seq[Array[Byte]] = Seq(
    WarcCodec.encodeRecord("request", Some(urlOf(id)), dateOf(id),
      s"<urn:graft:request:$id>", "application/http; msgtype=request",
      requestPayload(id).getBytes("UTF-8")),
    WarcCodec.encodeRecord("response", Some(urlOf(id)), dateOf(id),
      s"<urn:graft:response:$id>", "application/http; msgtype=response",
      if (withSkips) skipResponsePayload(id, text)
      else if (withEncodings) encResponsePayload(id, text)
      else responsePayload(text).getBytes("UTF-8")))

  /** A refetched-IDENTICAL full response (the crawler's dedup did NOT
    * catch it — the cross-segment duplicate [[Warc.firstCaptureResponses]]
    * exists to drop): same url, byte-identical payload, one month
    * later, its own record id.
    */
  def refetchRecordOf(id: Long, text: String): Array[Byte] =
    WarcCodec.encodeRecord("response", Some(urlOf(id)), revisitDateOf(id),
      s"<urn:graft:refetch:$id>", "application/http; msgtype=response",
      responsePayload(text).getBytes("UTF-8"))

  // ---- planted parse damage (the fileAudit fixture) ----

  /** A record whose header block is malformed (a named field with no
    * colon): one resync skip.
    */
  def damageBadHeader: Array[Byte] =
    "WARC/1.0\r\nTHIS DAMAGED LINE HAS NO COLON\r\n\r\n".getBytes("UTF-8")

  /** A record CLAIMING a 300 MiB payload (over the default 256 MiB
    * anti-OOM cap) followed by a small garbage body: one oversized
    * drop, no allocation.
    */
  def damageOversized: Array[Byte] =
    (s"WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: ${300L << 20}\r\n\r\n" +
      "OVERSIZE-CLAIM-SMALL-BODY").getBytes("UTF-8")

  /** A record whose payload the file cuts off (plain-file truncation):
    * one skip, clean EOF.
    */
  def damageTruncatedPlain: Array[Byte] =
    ("WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: 50000\r\n\r\n" +
      "x" * 100).getBytes("UTF-8")

  /** A gzip member CUT IN HALF mid-payload (the compressed-stream
    * corruption case): the inflater fails mid-record — one skip AND
    * the io_error flag. The payload is incompressible (seeded PRNG) so
    * the truncation genuinely lands inside the member's deflate data.
    */
  def damageTruncatedGzMember(bucket: Int): Array[Byte] = {
    val rnd = new java.util.Random(0xD15EA5EL + bucket)
    val payload = new Array[Byte](96 * 1024)
    rnd.nextBytes(payload)
    val rec = (s"WARC/1.0\r\nWARC-Type: resource\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes("UTF-8") ++ payload
    val gz = WarcCodec.gzipMember(rec)
    java.util.Arrays.copyOfRange(gz, 0, gz.length / 2)
  }

  def warcinfoOf(bucket: Int): Array[Byte] =
    WarcCodec.encodeRecord("warcinfo", None, "2023-01-01T00:00:00Z",
      s"<urn:graft:warcinfo:bucket-$bucket>", "application/warc-fields",
      warcinfoPayload.getBytes("UTF-8"))

  def mediaUrlOf(id: Long): String =
    s"http://Site${id % 5}.Example.com/img/$id.png"

  /** A fetched IMAGE response record: HTTP headers + binary body — the
    * multimodal half of a real crawl. The payload is the doc's base
    * dHash-fixture PNG ([[graft.operators.Multimodal.dhashBasePng]]),
    * so the crawled image's perceptual hash is the same closed-form
    * SQL formula the image queries oracle against.
    */
  def mediaRecordOf(id: Long): Array[Byte] = {
    val body = graft.operators.Multimodal.dhashBasePng(id)
    val head = (s"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8")
    WarcCodec.encodeRecord("response", Some(mediaUrlOf(id)), dateOf(id),
      s"<urn:graft:media:$id>", "application/http; msgtype=response",
      head ++ body)
  }

  def plainUrlOf(id: Long): String =
    s"http://Site${id % 5}.Example.com/txt/$id.txt"

  /** A fetched text/plain response: the document text verbatim — the
    * non-HTML text corpus a real segment carries (~40% of responses).
    */
  def plainRecordOf(id: Long, text: String): Array[Byte] = {
    val body = text.getBytes("UTF-8")
    val head = (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=UTF-8\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8")
    WarcCodec.encodeRecord("response", Some(plainUrlOf(id)), dateOf(id),
      s"<urn:graft:plain:$id>", "application/http; msgtype=response",
      head ++ body)
  }

  def pdfUrlOf(id: Long): String =
    s"http://Site${id % 5}.Example.com/pdf/$id.pdf"

  /** A fetched PDF response: the doc's fixture PDF
    * ([[PdfCodec.pdfOf]] — structural variant by id%5, layout by
    * id%2, damage every id%9==7), so the crawled document's extracted
    * text is the same closed-form formula the standalone PDF queries
    * oracle against.
    */
  def pdfRecordOf(id: Long, text: String): Array[Byte] = {
    val body = PdfCodec.pdfOf(id, text)
    val head = (s"HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8")
    WarcCodec.encodeRecord("response", Some(pdfUrlOf(id)), dateOf(id),
      s"<urn:graft:pdf:$id>", "application/http; msgtype=response",
      head ++ body)
  }

  def revisitDateOf(id: Long): String =
    f"2023-02-${id % 28 + 1}%02dT00:00:${id % 60}%02dZ"

  /** A crawl-dedup `revisit` record (ISO 28500 §6.7.2): the crawler
    * refetched `urlOf(id)` a month later, found an identical payload
    * digest, and stored a zero-payload pointer at the original
    * response record instead of the body.
    */
  def revisitRecordOf(id: Long): Array[Byte] =
    WarcCodec.encodeRecord("revisit", Some(urlOf(id)), revisitDateOf(id),
      s"<urn:graft:revisit:$id>", "message/http",
      Array.empty[Byte],
      extraHeaders = Seq(
        "WARC-Refers-To" -> s"<urn:graft:response:$id>",
        "WARC-Refers-To-Target-URI" -> urlOf(id),
        "WARC-Payload-Digest" -> s"sha1:GRAFTFAKE$id",
        "WARC-Profile" ->
          "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"))

  /** Materialize the documents table as `buckets` WARC segment files
    * under `outDir` — each bucket holds a leading `warcinfo` record plus
    * request/response pairs for its docs in doc_id order; ODD buckets
    * write the per-record-gzip-member `.warc.gz` layout so one corpus
    * exercises both codec paths. `withImages` adds an image fetch
    * (every 4th doc), a text/plain fetch (every 3rd), and a revisit
    * record (every 6th) — the mixed-media + crawl-dedup corpus.
    * `withEncodings` runs every HTML response through the
    * chunked/gzip/charset transfer stack. Written once per (content of
    * `documents`, layout) through [[IndexMeta.ensure]]: a call on
    * unchanged documents writes nothing, changed content rewrites the
    * dir. Tasks write their own segment files (one per bucket — the
    * synthesis is a fixture, the READER is the operator under test).
    * Returns the glob to read back.
    */
  def ensureWarcFiles(documents: DataFrame, outDir: String, buckets: Int = 8,
                      withImages: Boolean = false,
                      withEncodings: Boolean = false,
                      withSkips: Boolean = false,
                      withRefetch: Boolean = false,
                      withDamage: Boolean = false,
                      withPdfs: Boolean = false): String = {
    val params = s"warc v4;buckets=$buckets;img=$withImages;enc=$withEncodings;" +
      s"skips=$withSkips;refetch=$withRefetch;dmg=$withDamage;pdfs=$withPdfs"
    IndexMeta.ensure(outDir, params, documents) {
      val dirF = new java.io.File(outDir)
      dirF.mkdirs()
      val absOut = dirF.getAbsolutePath
      documents.select(col("doc_id"), col("text"))
        .withColumn("bucket", (col("doc_id") % buckets).cast("int"))
        .repartition(buckets, col("bucket"))
        .sortWithinPartitions("doc_id")
        .foreachPartition { (rows: Iterator[Row]) =>
          // a partition may hold several buckets (hash placement); group
          // so each bucket's file is written whole, in doc_id order
          rows.toSeq.groupBy(_.getInt(2)).foreach { case (b, docs) =>
            val gz = b % 2 == 1
            val out = new ByteArrayOutputStream(1 << 16)
            def put(rec: Array[Byte]): Unit = {
              val bs = if (gz) WarcCodec.gzipMember(rec) else rec
              out.write(bs, 0, bs.length)
            }
            put(warcinfoOf(b))
            docs.foreach { r =>
              val id = r.getLong(0)
              recordsOf(id, r.getString(1), withEncodings, withSkips).foreach(put)
              if (withImages) {
                // mixed-media corpus: every 4th doc's crawl also fetched
                // an image, every 3rd a plain-text asset — one crawl,
                // several modalities; every 6th doc was refetched later
                // and stored as a revisit pointer
                if (id % 4 == 0) put(mediaRecordOf(id))
                if (id % 3 == 0) put(plainRecordOf(id, r.getString(1)))
                if (id % 6 == 0) put(revisitRecordOf(id))
              }
              if (withPdfs && id % 2 == 0)
                // every 2nd doc's crawl also fetched a PDF rendition
                put(pdfRecordOf(id, r.getString(1)))
              if (withRefetch && id % 6 == 0) {
                // crawl-dedup corpus: every 6th doc was refetched a month
                // later — once as a full byte-identical duplicate response
                // (the crawler's dedup missed it) and once as the revisit
                // pointer (it caught it)
                put(refetchRecordOf(id, r.getString(1)))
                put(revisitRecordOf(id))
              }
            }
            if (withDamage) {
              // planted parse damage, appended after the clean records:
              // a malformed header block (1 skip), an over-cap
              // Content-Length claim (1 oversized), and a truncation —
              // mid-gzip-member for gz buckets (1 skip + io_error),
              // mid-payload at EOF for plain buckets (1 skip)
              put(damageBadHeader)
              put(damageOversized)
              if (gz) {
                val t = damageTruncatedGzMember(b)
                out.write(t, 0, t.length)
              } else
                out.write(damageTruncatedPlain, 0, damageTruncatedPlain.length)
            }
            val name = f"segment-$b%05d.warc" + (if (gz) ".gz" else "")
            java.nio.file.Files.write(
              java.nio.file.Paths.get(absOut, name), out.toByteArray)
          }
        }
    }
    s"$outDir/*.warc*"
  }

  // ---------------------------------------------------------------
  // JSONL documents path
  // ---------------------------------------------------------------

  /** The documents schema CONTRACT for JSONL corpora. Explicit on every
    * read: inference is a second full pass at 100 TB, and a drifting
    * inferred type (a doc_id that happens to be all-numeric-strings in
    * one shard) silently forks the pipeline.
    */
  val documentsJsonSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("n_chars", LongType, nullable = true)))

  /** Read a JSONL documents corpus under the explicit contract. The
    * scan is the TEXT source (codec-transparent, splittable for
    * uncompressed files by line framing) with `from_json` doing the
    * parse in codegen — a damaged line parses to a null struct and is
    * quarantined as `_corrupt_record` (kept when `keepCorrupt`, dropped
    * otherwise) instead of failing the scan. Deliberately NOT
    * `spark.read.json`: that source refuses plans that touch only its
    * corrupt-record column, which is exactly what a quarantine audit
    * (`count where corrupt`) does.
    */
  /** Shared parse projection: one text `value` column → the contract
    * columns (+ quarantine). PERMISSIVE from_json fills a
    * corrupt-record field (the raw line) on malformed input rather
    * than returning null — declare one in the parse schema so damage
    * is detectable per row.
    */
  private def parseJsonLines(lines: DataFrame, schema: StructType,
                             keepCorrupt: Boolean): DataFrame = {
    val withCorrupt = schema.add(StructField("_corrupt_record", StringType, nullable = true))
    val parsed = lines
      .select(from_json(col("value"), withCorrupt,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("r"))
    if (keepCorrupt)
      parsed.select(withCorrupt.fieldNames.map(f => col(s"r.$f")): _*)
    else
      parsed.filter(col("r._corrupt_record").isNull)
        .select(schema.fieldNames.map(f => col(s"r.$f")): _*)
  }

  def readJsonl(spark: SparkSession, glob: String,
                schema: StructType = documentsJsonSchema,
                keepCorrupt: Boolean = false): DataFrame =
    parseJsonLines(spark.read.text(glob), schema, keepCorrupt)

  /** STREAMING JSONL ingestion: the same contract-schema parse over the
    * file-streaming text source — new shards landing in `glob` become
    * micro-batches, damaged lines quarantine instead of killing the
    * query, and the output composes directly into
    * [[graft.streaming.StreamingCuration.curateStream]] (add an event
    * ts and a watermark). Batch ≡ streaming is structural: both paths
    * run the SAME [[parseJsonLines]] projection (spec-pinned).
    */
  def readJsonlStream(spark: SparkSession, glob: String,
                      schema: StructType = documentsJsonSchema,
                      keepCorrupt: Boolean = false): DataFrame =
    parseJsonLines(spark.readStream.text(glob), schema, keepCorrupt)

  /** Materialize the documents table as JSONL text files: half the
    * rows into a plain directory, half gzip — one corpus, both codec
    * paths. Written once per content of `documents` through
    * [[IndexMeta.ensure]]. Returns the glob covering both.
    */
  def ensureJsonlFiles(documents: DataFrame, outDir: String): String = {
    IndexMeta.ensure(outDir, "jsonl v3", documents) {
      val line = to_json(struct(
        col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")))
      documents.filter(col("doc_id") % 2 === 0).select(line).write.text(s"$outDir/plain")
      documents.filter(col("doc_id") % 2 === 1).select(line)
        .write.option("compression", "gzip").text(s"$outDir/gz")
    }
    s"$outDir/{plain,gz}"
  }
}
