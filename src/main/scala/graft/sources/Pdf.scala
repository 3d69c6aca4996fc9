package graft.sources

import java.io.ByteArrayOutputStream

import scala.collection.mutable

/** From-spec minimal PDF TEXT extraction (ISO 32000-1) — the largest
  * extractable-in-principle mime a real crawl yields after HTML. The
  * reference has no document ingestion at all (hnsw.cc synthesizes
  * vectors in-process); this is mandate-extension for the
  * LLM-training-data pipeline, in the established `WarcCodec` /
  * `Mp4Codec` codec discipline: a zero-dependency decoder whose
  * fixture side synthesizes documents closed-form so DuckDB can oracle
  * the full parse → decode → interpret chain byte-exactly.
  *
  * Decoder scope (what a curation pipeline needs, not a renderer):
  *   - classic xref TABLES and PDF 1.5 xref STREAMS (/Type /XRef,
  *     /W column widths, /Index subsections, /Prev chains), with PNG
  *     predictors 10–15 on stream data (the layout most real writers
  *     emit);
  *   - compressed OBJECT STREAMS (/Type /ObjStm): type-2 xref entries
  *     resolve through the containing stream's `N pairs + /First`
  *     header;
  *   - content streams through /FlateDecode (the JDK `Inflater`, zlib
  *     and raw fallback — the same discipline as
  *     `WarcCodec.inflateDeflate`), /Contents as a single stream or an
  *     ARRAY of streams (concatenated with interleaving whitespace,
  *     §7.8.2);
  *   - the text-showing operators `Tj`, `'`, `"`, `TJ` inside BT…ET,
  *     with literal-string escapes (§7.3.4.2: \n \r \t \b \f \( \) \\
  *     and octal) and hex strings;
  *   - simple fonts decode show-strings as Latin-1 (the
  *     StandardEncoding ≈ ISO-8859-1 approximation — exact on the
  *     ASCII range every fixture and most real text lives in);
  *     composite Identity-H fonts decode 2-byte codes through the
  *     font's /ToUnicode CMap (`bfchar` + offset-mapped `bfrange`,
  *     §9.10.3);
  *   - DAMAGE-SKIPS: any malformed structure (bad xref, corrupt
  *     stream, cyclic refs, truncation) yields None for the document —
  *     and when the cross-reference machinery itself is broken the
  *     loader falls back to a brute object scan before giving up,
  *     because a crawl's PDFs are routinely truncated mid-transfer.
  *
  * Deliberately OUT of scope (documented, not silent): encrypted
  * documents, non-Flate filters (DCT/LZW/ASCII85 streams skip),
  * /Differences-remapped simple-font encodings, array-form bfranges,
  * and layout reconstruction — shown text concatenates in content
  * order with no positional whitespace synthesis, which is exactly
  * what makes the extraction a closed-form formula of the fixture.
  *
  * Scale shape: `extractText` is a pure per-document kernel — the
  * Spark surface ([[Warc.pdfDocuments]]) runs it in the same batched
  * shuffle-free `mapPartitions` as every other codec; a 100 TB crawl's
  * PDFs parallelize by document with zero coordination.
  */
object PdfCodec {

  // =================================================================
  // object model + lexer
  // =================================================================

  sealed trait PVal
  final case class PNum(v: Double) extends PVal { def i: Int = v.toInt; def l: Long = v.toLong }
  final case class PName(v: String) extends PVal
  final case class PStr(bytes: Array[Byte]) extends PVal
  final case class PArr(items: Vector[PVal]) extends PVal
  final case class PDict(m: Map[String, PVal]) extends PVal
  final case class PRef(num: Int) extends PVal
  final case class PBool(v: Boolean) extends PVal
  case object PNull extends PVal
  /** A bare content-stream operator keyword (only emitted with
    * `allowRefs = false` — body text never contains indirect refs).
    */
  final case class POp(name: String) extends PVal
  /** An indirect stream object: its dict plus the RAW (undecoded)
    * data octets.
    */
  final case class PStream(dict: PDict, raw: Array[Byte]) extends PVal

  private final class Damage(msg: String) extends Exception(msg)
  private def damage(msg: String): Nothing = throw new Damage(msg)

  private def isWs(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
  private def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  /** Single-pass tokenizer/parser over `b[pos, end)`. `allowRefs`
    * enables the `N G R` indirect-reference lookahead (document
    * objects); content streams parse with it off (there is no `R`
    * operator, but a number-number-operator run must not be eaten).
    */
  final class Lexer(val b: Array[Byte], var pos: Int, end: Int,
                    allowRefs: Boolean) {
    def this(b: Array[Byte], pos: Int, allowRefs: Boolean) =
      this(b, pos, b.length, allowRefs)

    def atEnd: Boolean = { skipWs(); pos >= end }

    def skipWs(): Unit = {
      var go = true
      while (go && pos < end) {
        val c = b(pos) & 0xff
        if (isWs(c)) pos += 1
        else if (c == '%') { while (pos < end && b(pos) != '\n' && b(pos) != '\r') pos += 1 }
        else go = false
      }
    }

    private def token(): String = {
      val start = pos
      while (pos < end && !isWs(b(pos) & 0xff) && !isDelim(b(pos) & 0xff)) pos += 1
      if (pos == start) damage(s"empty token at $start")
      new String(b, start, pos - start, "ISO-8859-1")
    }

    /** Parse the next object (or operator keyword). */
    def next(): PVal = {
      skipWs()
      if (pos >= end) damage("unexpected end of input")
      val c = b(pos) & 0xff
      c match {
        case '/' =>
          pos += 1
          val raw = if (pos < end && !isWs(b(pos) & 0xff) && !isDelim(b(pos) & 0xff)) token() else ""
          // §7.3.5: #xx hex escapes inside names
          PName(if (raw.indexOf('#') < 0) raw else {
            val sb = new StringBuilder(raw.length)
            var i = 0
            while (i < raw.length) {
              if (raw.charAt(i) == '#' && i + 2 < raw.length) {
                sb.append(Integer.parseInt(raw.substring(i + 1, i + 3), 16).toChar); i += 3
              } else { sb.append(raw.charAt(i)); i += 1 }
            }
            sb.toString
          })
        case '(' => pos += 1; PStr(literalString())
        case '<' =>
          if (pos + 1 < end && b(pos + 1) == '<') { pos += 2; dict() }
          else { pos += 1; PStr(hexString()) }
        case '[' =>
          pos += 1
          val items = Vector.newBuilder[PVal]
          skipWs()
          while (pos < end && b(pos) != ']') { items += next(); skipWs() }
          if (pos >= end) damage("unterminated array")
          pos += 1
          PArr(items.result())
        case ']' | '>' | ')' | '}' | '{' => damage(s"stray delimiter '${c.toChar}' at $pos")
        case _ if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
          val t = token()
          val n = try t.toDouble catch { case _: NumberFormatException => damage(s"bad number '$t'") }
          if (allowRefs && n >= 0 && n == math.floor(n)) tryRef(n.toInt).getOrElse(PNum(n))
          else PNum(n)
        case _ =>
          token() match {
            case "true"  => PBool(true)
            case "false" => PBool(false)
            case "null"  => PNull
            case kw      => POp(kw)
          }
      }
    }

    /** `N G R` lookahead after an integer: rolls back on mismatch. */
    private def tryRef(num: Int): Option[PVal] = {
      val save = pos
      try {
        skipWs()
        val c = if (pos < end) b(pos) & 0xff else -1
        if (c < '0' || c > '9') { pos = save; return None }
        token() // generation
        skipWs()
        if (pos < end && b(pos) == 'R' &&
            (pos + 1 >= end || isWs(b(pos + 1) & 0xff) || isDelim(b(pos + 1) & 0xff))) {
          pos += 1
          Some(PRef(num))
        } else { pos = save; None }
      } catch { case _: Damage => pos = save; None }
    }

    private def dict(): PDict = {
      val m = Map.newBuilder[String, PVal]
      skipWs()
      while (pos + 1 < end && !(b(pos) == '>' && b(pos + 1) == '>')) {
        next() match {
          case PName(k) => m += k -> next()
          case other    => damage(s"dict key must be a name, got $other")
        }
        skipWs()
      }
      if (pos + 1 >= end) damage("unterminated dict")
      pos += 2
      PDict(m.result())
    }

    /** §7.3.4.2 literal string: balanced parens, backslash escapes,
      * octal codes, line continuations.
      */
    private def literalString(): Array[Byte] = {
      val out = new ByteArrayOutputStream(32)
      var depth = 1
      while (depth > 0) {
        if (pos >= end) damage("unterminated literal string")
        val c = b(pos) & 0xff; pos += 1
        c match {
          case '(' => depth += 1; out.write('(')
          case ')' => depth -= 1; if (depth > 0) out.write(')')
          case '\\' =>
            if (pos >= end) damage("dangling escape")
            val e = b(pos) & 0xff; pos += 1
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write('\f')
              case '(' => out.write('(')
              case ')' => out.write(')')
              case '\\' => out.write('\\')
              case '\r' => if (pos < end && b(pos) == '\n') pos += 1 // continuation
              case '\n' => // continuation
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'; var k = 0
                while (k < 2 && pos < end && b(pos) >= '0' && b(pos) <= '7') {
                  v = v * 8 + (b(pos) - '0'); pos += 1; k += 1
                }
                out.write(v & 0xff)
              case other => out.write(other) // §7.3.4.2: ignore the backslash
            }
          case other => out.write(other)
        }
      }
      out.toByteArray
    }

    /** `<48656C6C6F>` hex string; odd final digit pads with 0. */
    private def hexString(): Array[Byte] = {
      val out = new ByteArrayOutputStream(16)
      var hi = -1
      var go = true
      while (go) {
        if (pos >= end) damage("unterminated hex string")
        val c = b(pos) & 0xff; pos += 1
        if (c == '>') go = false
        else if (!isWs(c)) {
          val d = Character.digit(c, 16)
          if (d < 0) damage(s"bad hex digit '${c.toChar}'")
          if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
        }
      }
      if (hi >= 0) out.write(hi << 4)
      out.toByteArray
    }
  }

  // =================================================================
  // filters
  // =================================================================

  private def inflate(data: Array[Byte], nowrap: Boolean): Option[Array[Byte]] =
    try {
      val inf = new java.util.zip.Inflater(nowrap)
      inf.setInput(data)
      val out = new ByteArrayOutputStream(math.max(64, data.length * 3))
      val chunk = new Array[Byte](64 * 1024)
      while (!inf.finished()) {
        val n = inf.inflate(chunk)
        if (n == 0 && inf.needsInput()) { inf.end(); return None }
        out.write(chunk, 0, n)
      }
      inf.end()
      Some(out.toByteArray)
    } catch { case _: Exception => None }

  /** zlib-wrapped per the spec; raw-deflate fallback for damaged
    * headers (the `WarcCodec.inflateDeflate` discipline).
    */
  def flateDecode(data: Array[Byte]): Option[Array[Byte]] =
    inflate(data, nowrap = false).orElse(inflate(data, nowrap = true))

  def flateEncode(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream(math.max(64, data.length / 2))
    val chunk = new Array[Byte](64 * 1024)
    while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
    d.end()
    out.toByteArray
  }

  /** PNG predictors 10–15 over byte columns (§7.4.4.4 — xref streams
    * in the wild almost always carry /Predictor 12): each row is a
    * filter byte + `columns` data bytes; filters None/Sub/Up/Average/
    * Paeth at bpp = 1.
    */
  private[graft] def unpredictPng(data: Array[Byte], columns: Int): Array[Byte] = {
    if (columns <= 0 || data.length % (columns + 1) != 0) damage("bad predictor geometry")
    val rows = data.length / (columns + 1)
    val out = new Array[Byte](rows * columns)
    var r = 0
    while (r < rows) {
      val f = data(r * (columns + 1)) & 0xff
      var i = 0
      while (i < columns) {
        val x = data(r * (columns + 1) + 1 + i) & 0xff
        val a = if (i > 0) out(r * columns + i - 1) & 0xff else 0       // left
        val bUp = if (r > 0) out((r - 1) * columns + i) & 0xff else 0   // up
        val cUl = if (r > 0 && i > 0) out((r - 1) * columns + i - 1) & 0xff else 0
        val v = f match {
          case 0 => x
          case 1 => x + a
          case 2 => x + bUp
          case 3 => x + (a + bUp) / 2
          case 4 =>
            val p = a + bUp - cUl
            val (pa, pb, pc) = (math.abs(p - a), math.abs(p - bUp), math.abs(p - cUl))
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) bUp else cUl)
          case _ => damage(s"unknown PNG filter $f")
        }
        out(r * columns + i) = (v & 0xff).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  // =================================================================
  // document loader
  // =================================================================

  private sealed trait XrefEntry
  private final case class AtOffset(off: Int) extends XrefEntry
  private final case class InObjStm(stm: Int, idx: Int) extends XrefEntry

  /** Parsed document: cross-reference map (table/stream/brute-scan),
    * lazy object loader with ObjStm resolution, stream decode.
    */
  private final class PdfDoc(b: Array[Byte]) {
    private val entries = mutable.Map.empty[Int, XrefEntry]
    private var trailer: Map[String, PVal] = Map.empty
    private val objCache = mutable.Map.empty[Int, PVal]
    private val objStmCache = mutable.Map.empty[Int, (Array[Byte], Vector[(Int, Int)], Int)]
    private var loading = Set.empty[Int] // cycle guard

    locate()

    // ---- cross-reference machinery ----

    private def locate(): Unit = {
      try {
        val tail = new String(b, math.max(0, b.length - 2048),
          math.min(2048, b.length), "ISO-8859-1")
        val at = tail.lastIndexOf("startxref")
        if (at < 0) damage("no startxref")
        val m = java.util.regex.Pattern.compile("startxref\\s+(\\d+)").matcher(tail)
        var off = -1
        while (m.find()) off = m.group(1).toInt
        if (off < 0 || off >= b.length) damage("bad startxref offset")
        loadXrefAt(off, Set.empty)
        if (!trailer.contains("Root")) damage("trailer has no /Root")
      } catch {
        case _: Exception => bruteScan() // damaged xref: fall back
      }
    }

    private def loadXrefAt(off: Int, seen: Set[Int]): Unit = {
      if (seen.contains(off)) return // /Prev cycle
      val lx = new Lexer(b, off, allowRefs = true)
      lx.skipWs()
      if (lx.pos + 4 <= b.length &&
          new String(b, lx.pos, 4, "ISO-8859-1") == "xref") {
        lx.pos += 4
        loadXrefTable(lx, seen + off)
      } else {
        // PDF 1.5: the offset points at an xref STREAM object
        val (_, v) = parseIndirectAt(off)
        v match {
          case s: PStream => loadXrefStream(s, seen + off)
          case _ => damage("startxref points at neither a table nor an xref stream")
        }
      }
    }

    private def loadXrefTable(lx: Lexer, seen: Set[Int]): Unit = {
      var go = true
      while (go) {
        lx.skipWs()
        if (lx.pos + 7 <= b.length &&
            new String(b, lx.pos, 7, "ISO-8859-1") == "trailer") {
          lx.pos += 7
          lx.next() match {
            case PDict(m) =>
              m.foreach { case (k, v) => if (!trailer.contains(k)) trailer += k -> v }
              m.get("Prev").foreach {
                case n: PNum => loadXrefAt(n.i, seen)
                case _ =>
              }
            case _ => damage("trailer is not a dict")
          }
          go = false
        } else {
          val start = lx.next() match { case n: PNum => n.i; case _ => damage("bad subsection") }
          val count = lx.next() match { case n: PNum => n.i; case _ => damage("bad subsection") }
          var i = 0
          while (i < count) {
            lx.skipWs()
            if (lx.pos + 18 > b.length) damage("truncated xref entry")
            val f1 = new String(b, lx.pos, 10, "ISO-8859-1").trim.toInt
            val kind = b(lx.pos + 17).toChar
            lx.pos += 18
            if (kind == 'n' && !entries.contains(start + i))
              entries(start + i) = AtOffset(f1)
            i += 1
          }
        }
      }
    }

    private def loadXrefStream(s: PStream, seen: Set[Int]): Unit = {
      val d = s.dict.m
      val data = decodeStream(s).getOrElse(damage("undecodable xref stream"))
      val w = d.get("W") match {
        case Some(PArr(items)) => items.map { case n: PNum => n.i; case _ => damage("bad /W") }
        case _ => damage("xref stream has no /W")
      }
      val size = d.get("Size") match { case Some(n: PNum) => n.i; case _ => damage("no /Size") }
      val index: Vector[(Int, Int)] = d.get("Index") match {
        case Some(PArr(items)) =>
          items.map { case n: PNum => n.i; case _ => damage("bad /Index") }
            .grouped(2).collect { case Seq(a, c) => (a, c) }.toVector
        case _ => Vector((0, size))
      }
      val rowW = w.sum
      var pos = 0
      def field(width: Int): Long = {
        var v = 0L; var k = 0
        while (k < width) { v = (v << 8) | (data(pos) & 0xff); pos += 1; k += 1 }
        v
      }
      index.foreach { case (start, count) =>
        var i = 0
        while (i < count && pos + rowW <= data.length) {
          val t = if (w(0) == 0) 1L else field(w(0))
          val f2 = field(w(1)); val f3 = field(w(2))
          val num = start + i
          if (!entries.contains(num)) t match {
            case 1L => entries(num) = AtOffset(f2.toInt)
            case 2L => entries(num) = InObjStm(f2.toInt, f3.toInt)
            case _  => // type 0 free (or unknown: §7.5.8.3 says treat as null)
          }
          i += 1
        }
      }
      d.foreach { case (k, v) => if (!trailer.contains(k)) trailer += k -> v }
      d.get("Prev").foreach { case n: PNum => loadXrefAt(n.i, seen); case _ => }
    }

    /** Last-resort loader for documents whose xref machinery is
      * damaged: scan for `N G obj` heads (last occurrence of each
      * object number wins — incremental-update order) and a /Root in
      * any trailer-looking dict.
      */
    private def bruteScan(): Unit = {
      entries.clear(); trailer = Map.empty
      val s = new String(b, "ISO-8859-1")
      val m = java.util.regex.Pattern
        .compile("(?<![0-9])(\\d{1,7})\\s+(\\d{1,5})\\s+obj\\b").matcher(s)
      while (m.find()) entries(m.group(1).toInt) = AtOffset(m.start)
      val rm = java.util.regex.Pattern.compile("/Root\\s+(\\d+)\\s+\\d+\\s+R").matcher(s)
      if (rm.find()) trailer += "Root" -> PRef(rm.group(1).toInt)
    }

    // ---- object access ----

    def obj(num: Int): PVal = objCache.getOrElseUpdate(num, {
      if (loading.contains(num)) damage(s"reference cycle through obj $num")
      loading += num
      try entries.get(num) match {
        case Some(AtOffset(off)) =>
          val (gotNum, v) = parseIndirectAt(off)
          if (gotNum != num) damage(s"xref says obj $num at $off, found $gotNum")
          v
        case Some(InObjStm(stm, idx)) => objFromStream(stm, idx)
        case None => PNull
      } finally loading -= num
    })

    def resolve(v: PVal): PVal = v match {
      case PRef(n) => resolve(obj(n))
      case other   => other
    }

    private def parseIndirectAt(off: Int): (Int, PVal) = {
      if (off < 0 || off >= b.length) damage(s"object offset $off out of range")
      val lx = new Lexer(b, off, allowRefs = true)
      val num = lx.next() match { case n: PNum => n.i; case _ => damage("no object number") }
      lx.next() match { case _: PNum => (); case _ => damage("no generation") }
      lx.next() match { case POp("obj") => (); case t => damage(s"expected obj, got $t") }
      val v = lx.next()
      lx.skipWs()
      v match {
        case d: PDict if lx.pos + 6 <= b.length &&
            new String(b, lx.pos, 6, "ISO-8859-1") == "stream" =>
          var p = lx.pos + 6
          if (p < b.length && b(p) == '\r') p += 1
          if (p < b.length && b(p) == '\n') p += 1
          val len = resolve(d.m.getOrElse("Length", PNull)) match {
            case n: PNum => n.i
            case _       => -1
          }
          val dataEnd =
            if (len >= 0 && p + len <= b.length &&
                endstreamNear(p + len)) p + len
            else { // wrong/missing /Length: recover by scanning
              val at = indexOfAscii(b, "endstream", p)
              if (at < 0) damage("unterminated stream")
              var e = at
              if (e > p && b(e - 1) == '\n') e -= 1
              if (e > p && b(e - 1) == '\r') e -= 1
              e
            }
          (num, PStream(d, java.util.Arrays.copyOfRange(b, p, dataEnd)))
        case other => (num, other)
      }
    }

    private def endstreamNear(p: Int): Boolean = {
      var i = p
      while (i < b.length && i < p + 4 && isWs(b(i) & 0xff)) i += 1
      i + 9 <= b.length && new String(b, i, 9, "ISO-8859-1") == "endstream"
    }

    private def objFromStream(stmNum: Int, idx: Int): PVal = {
      val (data, pairs, first) = objStmCache.getOrElseUpdate(stmNum, {
        resolve(PRef(stmNum)) match {
          case s: PStream =>
            val d = decodeStream(s).getOrElse(damage(s"undecodable ObjStm $stmNum"))
            val n = resolve(s.dict.m.getOrElse("N", PNull)) match {
              case x: PNum => x.i; case _ => damage("ObjStm has no /N")
            }
            val first = resolve(s.dict.m.getOrElse("First", PNull)) match {
              case x: PNum => x.i; case _ => damage("ObjStm has no /First")
            }
            val lx = new Lexer(d, 0, first, allowRefs = false)
            val pairs = Vector.newBuilder[(Int, Int)]
            var i = 0
            while (i < n) {
              val on = lx.next() match { case x: PNum => x.i; case _ => damage("bad ObjStm header") }
              val off = lx.next() match { case x: PNum => x.i; case _ => damage("bad ObjStm header") }
              pairs += ((on, off))
              i += 1
            }
            (d, pairs.result(), first)
          case _ => damage(s"obj $stmNum is not an ObjStm")
        }
      })
      if (idx < 0 || idx >= pairs.length) damage(s"ObjStm index $idx out of range")
      val (_, off) = pairs(idx)
      new Lexer(data, first + off, allowRefs = true).next()
    }

    /** Decode a stream's data through its /Filter chain. Only
      * /FlateDecode (with optional PNG predictors) is implemented —
      * other filters return None and the caller damage-skips.
      */
    def decodeStream(s: PStream): Option[Array[Byte]] = {
      val filters: Vector[String] = resolve(s.dict.m.getOrElse("Filter", PNull)) match {
        case PName(f)    => Vector(f)
        case PArr(items) => items.map { case PName(f) => f; case _ => return None }
        case PNull       => Vector.empty
        case _           => return None
      }
      var data = s.raw
      filters.foreach {
        case "FlateDecode" | "Fl" =>
          data = flateDecode(data).getOrElse(return None)
          resolve(s.dict.m.getOrElse("DecodeParms", PNull)) match {
            case PDict(p) =>
              val pred = resolve(p.getOrElse("Predictor", PNum(1))) match {
                case n: PNum => n.i; case _ => 1
              }
              if (pred >= 10) {
                val cols = resolve(p.getOrElse("Columns", PNum(1))) match {
                  case n: PNum => n.i; case _ => 1
                }
                data = unpredictPng(data, cols)
              } else if (pred != 1) return None // TIFF predictor: unsupported
            case _ =>
          }
        case _ => return None // DCT/LZW/ASCII85/…: out of scope
      }
      Some(data)
    }

    // ---- page tree ----

    /** Leaf pages with INHERITED /Resources (§7.7.3.4). */
    def pages(): Vector[(PDict, Map[String, PVal])] = {
      val root = resolve(trailer.getOrElse("Root", damage("no /Root"))) match {
        case d: PDict => d; case _ => damage("/Root is not a dict")
      }
      val top = resolve(root.m.getOrElse("Pages", damage("catalog has no /Pages")))
      val out = Vector.newBuilder[(PDict, Map[String, PVal])]
      def walk(node: PVal, inheritedRes: Map[String, PVal], depth: Int): Unit = {
        if (depth > 64) damage("page tree too deep")
        resolve(node) match {
          case d: PDict =>
            val res = resolve(d.m.getOrElse("Resources", PNull)) match {
              case PDict(r) => r
              case _        => inheritedRes
            }
            resolve(d.m.getOrElse("Type", PNull)) match {
              case PName("Pages") =>
                resolve(d.m.getOrElse("Kids", PNull)) match {
                  case PArr(kids) => kids.foreach(walk(_, res, depth + 1))
                  case _          =>
                }
              case _ => out += ((d, res)) // /Page (or untyped leaf: tolerate)
            }
          case _ =>
        }
      }
      walk(top, Map.empty, 0)
      out.result()
    }
  }

  private def indexOfAscii(hay: Array[Byte], needle: String, from: Int): Int = {
    val n = needle.getBytes("ISO-8859-1")
    var i = math.max(from, 0)
    val last = hay.length - n.length
    while (i <= last) {
      var j = 0
      while (j < n.length && hay(i + j) == n(j)) j += 1
      if (j == n.length) return i
      i += 1
    }
    -1
  }

  // =================================================================
  // ToUnicode CMaps (§9.10.3)
  // =================================================================

  /** `bfchar` entries + offset-mapped `bfrange`s over 2-byte codes
    * (the Identity-H shape). Array-form bfranges are skipped.
    */
  private[graft] final case class ToUnicode(chars: Map[Int, String],
                                              ranges: Vector[(Int, Int, String)]) {
    def map(code: Int): Option[String] =
      chars.get(code).orElse {
        ranges.collectFirst { case (lo, hi, dst) if code >= lo && code <= hi =>
          if (dst.isEmpty) ""
          else {
            // §9.10.3: increment the LAST code unit of the destination
            val last = dst.charAt(dst.length - 1)
            dst.substring(0, dst.length - 1) + (last + (code - lo)).toChar
          }
        }
      }
  }

  private def hexToInt(h: String): Int = Integer.parseInt(h, 16)
  private def hexToString(h: String): String = {
    val sb = new StringBuilder(h.length / 4)
    var i = 0
    while (i + 4 <= h.length) { sb.append(hexToInt(h.substring(i, i + 4)).toChar); i += 4 }
    if (sb.isEmpty && h.length >= 2) sb.append(hexToInt(h).toChar)
    sb.toString
  }

  private val BfChar = java.util.regex.Pattern.compile(
    "beginbfchar(.*?)endbfchar", java.util.regex.Pattern.DOTALL)
  private val BfRange = java.util.regex.Pattern.compile(
    "beginbfrange(.*?)endbfrange", java.util.regex.Pattern.DOTALL)
  private val HexPair = java.util.regex.Pattern.compile(
    "<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>")
  private val HexTriple = java.util.regex.Pattern.compile(
    "<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>")

  private[graft] def parseToUnicode(cmap: Array[Byte]): ToUnicode = {
    val s = new String(cmap, "ISO-8859-1")
    val chars = Map.newBuilder[Int, String]
    val cm = BfChar.matcher(s)
    while (cm.find()) {
      val pm = HexPair.matcher(cm.group(1))
      while (pm.find()) chars += hexToInt(pm.group(1)) -> hexToString(pm.group(2))
    }
    val ranges = Vector.newBuilder[(Int, Int, String)]
    val rm = BfRange.matcher(s)
    while (rm.find()) {
      val tm = HexTriple.matcher(rm.group(1))
      while (tm.find())
        ranges += ((hexToInt(tm.group(1)), hexToInt(tm.group(2)), hexToString(tm.group(3))))
    }
    ToUnicode(chars.result(), ranges.result())
  }

  // =================================================================
  // content interpretation
  // =================================================================

  /** Run the text-showing operators of one content stream. `fonts`
    * maps resource names to an optional ToUnicode CMap (None = simple
    * font → Latin-1 bytes).
    */
  private def interpret(content: Array[Byte],
                        fonts: Map[String, Option[ToUnicode]],
                        out: StringBuilder): Unit = {
    val lx = new Lexer(content, 0, allowRefs = false)
    val stack = mutable.ArrayBuffer.empty[PVal]
    var font: Option[ToUnicode] = None
    def show(s: PStr): Unit = font match {
      case Some(cmap) =>
        var i = 0
        while (i + 1 < s.bytes.length) {
          val code = ((s.bytes(i) & 0xff) << 8) | (s.bytes(i + 1) & 0xff)
          cmap.map(code).foreach(out ++= _)
          i += 2
        }
      case None => out ++= new String(s.bytes, "ISO-8859-1")
    }
    while (!lx.atEnd) {
      lx.next() match {
        case POp(op) =>
          op match {
            case "Tf" if stack.length >= 2 =>
              stack(stack.length - 2) match {
                case PName(f) => font = fonts.getOrElse(f, None)
                case _        =>
              }
            case "Tj" | "'" if stack.nonEmpty =>
              stack.last match { case s: PStr => show(s); case _ => }
            case "\"" if stack.nonEmpty => // aw ac string "
              stack.last match { case s: PStr => show(s); case _ => }
            case "TJ" if stack.nonEmpty =>
              stack.last match {
                case PArr(items) => items.foreach {
                  case s: PStr => show(s)
                  case _       => // kerning adjustments: positional, not textual
                }
                case _ =>
              }
            case _ => // positioning/state/path operators: no text
          }
          stack.clear()
        case operand => stack += operand
      }
    }
  }

  /** Extract the shown text of a PDF, in content order, pages
    * concatenated — or None when the document is damaged beyond the
    * fallback loader or yields no text at all (a crawl treats both as
    * extraction failures). See the object doc for the exact decoding
    * scope.
    */
  def extractText(pdf: Array[Byte]): Option[String] = try {
    if (pdf.length < 8 || !new String(pdf, 0, 5, "ISO-8859-1").startsWith("%PDF-"))
      return None
    val doc = new PdfDoc(pdf)
    val out = new StringBuilder
    doc.pages().foreach { case (page, res) =>
      try {
        val fonts: Map[String, Option[ToUnicode]] =
          doc.resolve(res.getOrElse("Font", PNull)) match {
            case PDict(fm) => fm.map { case (name, fv) =>
              name -> (doc.resolve(fv) match {
                case fd: PDict => doc.resolve(fd.m.getOrElse("ToUnicode", PNull)) match {
                  case s: PStream => doc.decodeStream(s).map(parseToUnicode)
                  case _          => None
                }
                case _ => None
              })
            }
            case _ => Map.empty
          }
        val streams: Vector[Array[Byte]] =
          doc.resolve(page.m.getOrElse("Contents", PNull)) match {
            case s: PStream => doc.decodeStream(s).toVector
            case PArr(items) => items.flatMap(i => doc.resolve(i) match {
              case s: PStream => doc.decodeStream(s)
              case _          => None
            })
            case _ => Vector.empty
          }
        if (streams.nonEmpty) {
          // §7.8.2: an array of content streams is ONE stream with
          // whitespace interleaved at the joins
          val joined = streams.reduce((a, b2) => a ++ "\n".getBytes("ISO-8859-1") ++ b2)
          interpret(joined, fonts, out)
        }
      } catch { case _: Exception => } // a damaged page skips, others stand
    }
    if (out.isEmpty) None else Some(out.toString)
  } catch { case _: Exception => None }

  // =================================================================
  // fixture synthesis (the Mp4Codec/WarcCodec discipline: every
  // extracted character is a pure formula of (doc_id, text))
  // =================================================================

  private def escapeLiteral(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '('  => sb ++= "\\("
      case ')'  => sb ++= "\\)"
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 256 => sb += c
      case _    => sb += '?' // non-Latin-1 via literal strings: lossy by spec
    }
    sb.toString
  }

  /** The text a fixture PDF for (id, text) must extract to — the
    * closed-form oracle formula. The `pdfv<v>` suffix makes each
    * structural variant's output distinct, so a broken decode path
    * cannot hide behind an identical sibling; v4 additionally prefixes
    * '>' through a bfchar mapping.
    */
  def shownTextOf(id: Long, text: String): String = {
    val base = s"$text pdfv${id % 5}"
    if (id % 5 == 4) ">" + base else base
  }

  /** Per-variant content stream(s) for the shown text. Returns the
    * stream bodies (1 or 2) and whether the Identity-H font is used.
    */
  private def contentFor(id: Long, text: String): (Vector[Array[Byte]], Boolean) = {
    val v = (id % 5).toInt
    val base = s"$text pdfv$v"
    v match {
      case 2 => // /Contents ARRAY: the text split across two streams
        val mid = base.length / 2
        val (p1, p2) = (base.substring(0, mid), base.substring(mid))
        (Vector(
          s"BT /F1 12 Tf 72 720 Td (${escapeLiteral(p1)}) Tj ET".getBytes("ISO-8859-1"),
          s"BT /F1 12 Tf 72 700 Td (${escapeLiteral(p2)}) Tj ET".getBytes("ISO-8859-1")),
          false)
      case 3 => // TJ array with kerning numbers between the pieces
        val mid = base.length / 2
        val (p1, p2) = (base.substring(0, mid), base.substring(mid))
        (Vector((s"BT /F1 12 Tf 72 720 Td " +
          s"[(${escapeLiteral(p1)}) -250 (${escapeLiteral(p2)})] TJ ET")
          .getBytes("ISO-8859-1")), false)
      case 4 => // Identity-H: 2-byte codes = char + 2, plus a bfchar'd 0001
        val hex = new StringBuilder("0001") // bfchar → '>'
        base.foreach(c => hex ++= f"${c.toInt + 2}%04X")
        (Vector(s"BT /F1 12 Tf 72 720 Td <${hex.toString}> Tj ET"
          .getBytes("ISO-8859-1")), true)
      case _ => // v0 plain / v1 Flate (compression applied by the builder)
        (Vector(s"BT /F1 12 Tf 72 720 Td (${escapeLiteral(base)}) Tj ET"
          .getBytes("ISO-8859-1")), false)
    }
  }

  /** The ToUnicode CMap for the v4 fixture font: one bfchar
    * (0001 → '>') plus one offset bfrange (code → code − 2).
    */
  private val FixtureCMap: Array[Byte] =
    """/CIDInit /ProcSet findresource begin
      |12 dict begin
      |begincmap
      |/CMapName /Graft-Fixture def
      |1 begincodespacerange
      |<0000> <FFFF>
      |endcodespacerange
      |1 beginbfchar
      |<0001> <003E>
      |endbfchar
      |1 beginbfrange
      |<0002> <FFFF> <0000>
      |endbfrange
      |endcmap
      |CMapName currentdict /CMap defineresource pop
      |end
      |end""".stripMargin.getBytes("ISO-8859-1")

  private def streamBody(data: Array[Byte], flate: Boolean,
                         extraDict: String = ""): Array[Byte] = {
    val payload = if (flate) flateEncode(data) else data
    val filter = if (flate) " /Filter /FlateDecode" else ""
    (s"<< /Length ${payload.length}$filter$extraDict >>\nstream\n").getBytes("ISO-8859-1") ++
      payload ++ "\nendstream".getBytes("ISO-8859-1")
  }

  /** Classic layout: objects + xref TABLE + trailer. */
  private def buildClassic(objects: Seq[(Int, Array[Byte])], size: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(1024)
    out.write("%PDF-1.4\n".getBytes("ISO-8859-1"))
    val offsets = mutable.Map.empty[Int, Int]
    objects.foreach { case (num, body) =>
      offsets(num) = out.size()
      out.write(s"$num 0 obj\n".getBytes("ISO-8859-1"))
      out.write(body)
      out.write("\nendobj\n".getBytes("ISO-8859-1"))
    }
    val xrefAt = out.size()
    out.write(s"xref\n0 $size\n".getBytes("ISO-8859-1"))
    out.write("0000000000 65535 f \n".getBytes("ISO-8859-1"))
    (1 until size).foreach { n =>
      out.write(offsets.get(n)
        .map(off => f"$off%010d 00000 n \n")
        .getOrElse("0000000000 65535 f \n").getBytes("ISO-8859-1"))
    }
    out.write((s"trailer\n<< /Size $size /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
      .getBytes("ISO-8859-1"))
    out.toByteArray
  }

  /** PDF 1.5 layout: non-stream objects packed in ONE compressed
    * object stream, stream objects top-level, a Flate xref STREAM
    * closing the file (optionally through PNG predictor 12 — the
    * layout real writers emit).
    */
  private def buildXrefStream(inObjStm: Seq[(Int, Array[Byte])],
                              topLevel: Seq[(Int, Array[Byte])],
                              objStmNum: Int, xrefNum: Int, size: Int,
                              predictor: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream(1024)
    out.write("%PDF-1.5\n".getBytes("ISO-8859-1"))
    val offsets = mutable.Map.empty[Int, Int]
    topLevel.foreach { case (num, body) =>
      offsets(num) = out.size()
      out.write(s"$num 0 obj\n".getBytes("ISO-8859-1"))
      out.write(body)
      out.write("\nendobj\n".getBytes("ISO-8859-1"))
    }
    // the object stream: header pairs, then the packed objects
    val packed = new ByteArrayOutputStream(256)
    val header = new StringBuilder
    inObjStm.foreach { case (num, body) =>
      header ++= s"$num ${packed.size()} "
      packed.write(body); packed.write('\n')
    }
    val first = header.length
    val stmData = header.toString.getBytes("ISO-8859-1") ++ packed.toByteArray
    offsets(objStmNum) = out.size()
    out.write(s"$objStmNum 0 obj\n".getBytes("ISO-8859-1"))
    out.write(streamBody(stmData, flate = true,
      extraDict = s" /Type /ObjStm /N ${inObjStm.length} /First $first"))
    out.write("\nendobj\n".getBytes("ISO-8859-1"))
    // the xref stream: W = [1 4 2]
    val xrefAt = out.size()
    offsets(xrefNum) = xrefAt
    val rows = new ByteArrayOutputStream(size * 7)
    val stmIdx = inObjStm.zipWithIndex.map { case ((n, _), i) => n -> i }.toMap
    def row(t: Int, f2: Int, f3: Int): Unit = {
      rows.write(t)
      rows.write((f2 >>> 24) & 0xff); rows.write((f2 >>> 16) & 0xff)
      rows.write((f2 >>> 8) & 0xff); rows.write(f2 & 0xff)
      rows.write((f3 >>> 8) & 0xff); rows.write(f3 & 0xff)
    }
    (0 until size).foreach { n =>
      if (n == 0) row(0, 0, 0xffff)
      else stmIdx.get(n) match {
        case Some(i) => row(2, objStmNum, i)
        case None => offsets.get(n) match {
          case Some(off) => row(1, off, 0)
          case None      => row(0, 0, 0)
        }
      }
    }
    val rowBytes = rows.toByteArray
    val (data, parms) =
      if (!predictor) (rowBytes, "")
      else { // PNG Up (filter 2) rows — the common real-writer shape
        val cols = 7
        val nRows = rowBytes.length / cols
        val pred = new ByteArrayOutputStream(rowBytes.length + nRows)
        var r = 0
        while (r < nRows) {
          pred.write(2)
          var i = 0
          while (i < cols) {
            val up = if (r > 0) rowBytes((r - 1) * cols + i) & 0xff else 0
            pred.write((rowBytes(r * cols + i) & 0xff) - up & 0xff)
            i += 1
          }
          r += 1
        }
        (pred.toByteArray, " /DecodeParms << /Predictor 12 /Columns 7 >>")
      }
    out.write(s"$xrefNum 0 obj\n".getBytes("ISO-8859-1"))
    out.write(streamBody(data, flate = true,
      extraDict = s" /Type /XRef /Size $size /W [1 4 2] /Root 1 0 R$parms"))
    out.write("\nendobj\n".getBytes("ISO-8859-1"))
    out.write(s"startxref\n$xrefAt\n%%EOF\n".getBytes("ISO-8859-1"))
    out.toByteArray
  }

  /** One fixture PDF per (doc_id, text). Structural variant =
    * `id % 5`: 0 plain literal, 1 Flate-compressed content, 2
    * /Contents ARRAY across two streams, 3 TJ array with kerning, 4
    * Identity-H + ToUnicode (bfchar + offset bfrange). File layout =
    * `id % 2`: classic xref table, or xref STREAM + packed ObjStm
    * (with PNG predictor 12 every 4th doc). `id % 9 == 7` is DAMAGE:
    * a %PDF header followed by garbage — extraction must return None.
    */
  def pdfOf(id: Long, text: String): Array[Byte] = {
    if (id % 9 == 7)
      return (s"%PDF-1.4\n% damaged fixture $id\n" +
        "NOT A REAL OBJECT STRUCTURE " * 4).getBytes("ISO-8859-1")
    val v = (id % 5).toInt
    val (streams, identityH) = contentFor(id, text)
    val twoStreams = streams.length == 2
    val contents = if (twoStreams) "[4 0 R 6 0 R]" else "4 0 R"
    val catalog = "<< /Type /Catalog /Pages 2 0 R >>".getBytes("ISO-8859-1")
    val pagesObj = "<< /Type /Pages /Kids [3 0 R] /Count 1 >>".getBytes("ISO-8859-1")
    val page = (s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      s"/Resources << /Font << /F1 5 0 R >> >> /Contents $contents >>")
      .getBytes("ISO-8859-1")
    val font =
      (if (identityH)
        "<< /Type /Font /Subtype /Type0 /BaseFont /GraftCID " +
          "/Encoding /Identity-H /ToUnicode 7 0 R >>"
      else
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
        .getBytes("ISO-8859-1")
    val contentObjs: Seq[(Int, Array[Byte])] =
      if (twoStreams)
        Seq(4 -> streamBody(streams(0), flate = false),
          6 -> streamBody(streams(1), flate = false))
      else
        Seq(4 -> streamBody(streams(0), flate = v == 1))
    val cmapObj: Seq[(Int, Array[Byte])] =
      if (identityH) Seq(7 -> streamBody(FixtureCMap, flate = false)) else Nil
    if (id % 2 == 0)
      buildClassic(
        Seq(1 -> catalog, 2 -> pagesObj, 3 -> page, 5 -> font) ++
          contentObjs ++ cmapObj, size = 8)
    else
      buildXrefStream(
        inObjStm = Seq(1 -> catalog, 2 -> pagesObj, 3 -> page, 5 -> font),
        topLevel = contentObjs ++ cmapObj,
        objStmNum = 8, xrefNum = 9, size = 10,
        predictor = id % 4 == 3)
  }

  /** Per-file extraction over a `binaryFile` relation
    * (`path`, `content`) → `(path, text)`; undecodable documents
    * damage-skip. Same shuffle-free batched shape as every codec
    * surface here.
    */
  def extractFiles(files: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    files.select(col("path").cast("string"), col("content")).mapPartitions { rows =>
      rows.flatMap { r =>
        extractText(r.getAs[Array[Byte]](1))
          .map(t => org.apache.spark.sql.Row(r.getString(0), t))
      }
    }(enc)
  }

  /** Materialize the documents table as one `.pdf` file per doc under
    * `outDir`, once per content of `documents` through
    * [[graft.operators.IndexMeta.ensure]] (the `ensureWarcFiles`
    * contract). Returns the glob.
    */
  def ensurePdfFiles(documents: org.apache.spark.sql.DataFrame, outDir: String): String = {
    import org.apache.spark.sql.functions.col
    graft.operators.IndexMeta.ensure(outDir, "pdf v2", documents) {
      val dirF = new java.io.File(outDir)
      dirF.mkdirs()
      val absOut = dirF.getAbsolutePath
      documents.select(col("doc_id"), col("text"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            val id = r.getLong(0)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(absOut, f"doc-$id%08d.pdf"),
              pdfOf(id, r.getString(1)))
          }
        }
    }
    s"$outDir/*.pdf"
  }
}
