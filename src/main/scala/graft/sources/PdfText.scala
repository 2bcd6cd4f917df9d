package graft.sources

import graft.operators.{Chunker, Segmenter}
import graft.operators.Segmenter.Line
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S2 — text extraction from REAL PDF bytes, self-contained (no PDF
  * library exists in this runtime). The reference delegates to PyMuPDF
  * and consumes its block→line→span tree
  * (`/root/reference/src/pdf_extractor.py:60-124`); this is the
  * from-scratch analog for the dominant PDF population: unencrypted
  * files whose page content streams are plain, FlateDecode (the JDK
  * inflater), LZWDecode, RunLengthDecode, ASCII85Decode or
  * ASCIIHexDecode — chains included — with text shown through the
  * standard BT/ET operators. Standard-security-handler encryption with
  * an EMPTY user password (RC4 40–128, AES-128-CBC, and AES-256 R5/R6
  * — the protected-courseware cases PyMuPDF opens transparently)
  * decrypts via [[PdfCrypt]]; files demanding a real password and image-only
  * filters (DCT/JPX/CCITT) remain out of scope and degrade to no text.
  *
  * Scope: simple fonts with literal/hex strings extract byte-exactly
  * (Latin-1, plus WinAnsi's high block and `/Encoding /Differences`
  * glyph-name remaps through an Adobe-Glyph-List subset), and
  * Type0/CID-keyed fonts (the CJK population — the reference's own
  * corpus is Chinese course PDFs) decode through their embedded
  * /ToUnicode CMap: `Tf` switches the active font, a Type0 font's show
  * strings are consumed as 2-byte codes, and bfchar/bfrange entries
  * map codes to UTF-16BE text — the same mapping PyMuPDF applies when
  * `page.get_text()` walks a CID font. A Type0 font WITHOUT an
  * embedded ToUnicode still extracts when it names a predefined CMap
  * whose code space is public (UniGB-UCS2-H and the Uni* and legacy-
  * charset families — the pre-2005 Chinese-authored case); only
  * Identity-H with no ToUnicode yields no text (raw glyph ids,
  * tolerant like an OCR gap). Object discovery is layered: a tolerant
  * linear scan finds
  * top-level objects — surviving broken cross-reference tables strict
  * parsers reject — expands /Type /ObjStm object streams (the
  * compressed object tables modern PDF writers emit), and when the
  * file carries PDF-1.5 cross-reference STREAMS (/Type /XRef) walks
  * them for authoritative offsets and indirect-/Length stream extents
  * the scan alone cannot recover.
  *
  * The block→line mapping mirrors what the reference reads off
  * PyMuPDF: each BT..ET section is one block; within a block,
  * text-show operations on the same baseline form one line (spans
  * joined with a space — the reference's own `span + " "` quirk,
  * `:92-94`); coordinates flip to top-down page space, a line's bottom
  * `y1` = baseline + 0.2 em, a block's `y0` = first baseline − 0.8 em.
  * Those lines feed [[Segmenter.segmentLayout]] — the SAME E1/E3 fold
  * the driver gate checks — so layout segmentation behaves identically
  * whether lines come from fixtures or from real bytes.
  *
  * Distribution: parsing is per-file and embarrassingly parallel —
  * [[extractChunks]] runs it inside a Dataset `flatMap` over the
  * `binaryFile` source, so 100 TB of PDFs scale by adding executors;
  * nothing here touches the driver.
  */
object PdfText {

  // ------------------------------------------------------- object layer

  /** Latin-1 decode: a bijective char↔byte view of the file, so regex
    * offsets are byte offsets and stream payloads round-trip exactly.
    */
  private def latin1(bytes: Array[Byte]): String =
    new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)

  private val objRe = raw"(?s)(\d+)\s+(\d+)\s+obj\b".r
  private val lengthRe = raw"/Length\s+(\d+)(?!\s+\d+\s+R)".r

  /** One indirect object: its dictionary/body text and, if present, the
    * raw (still-encoded) stream payload. `gen` is the object's
    * generation number — the RC4/AES-128 per-object decryption key
    * salts in it, so incremental-update files with nonzero generations
    * decrypt wrongly if it is dropped (objects unpacked from an ObjStm
    * are always generation 0 per spec).
    */
  private[sources] final case class PdfObj(dict: String, stream: Option[Array[Byte]],
                                           gen: Int = 0)

  /** Tolerant linear scan for `N 0 obj ... endobj` — no xref needed.
    * Stream extents come from a direct /Length when present, else from
    * searching `endstream` (indirect /Length refs are rare in practice
    * and the fallback stays correct for them). Objects packed into
    * `/Type /ObjStm` compressed object streams (the modern-writer
    * layout) are expanded afterwards; a top-level object with the same
    * number wins (the incremental-update convention).
    */
  private[sources] def scanObjects(bytes: Array[Byte]): Map[Int, PdfObj] = {
    val direct0 = scanTopLevel(bytes)
    // Encryption (PDF 32000 §7.6 standard security handler, empty user
    // password) is resolved BEFORE ObjStm expansion: the packed object
    // table is itself an encrypted stream. A decryptor only exists when
    // the empty-password U check passes; otherwise (real password, or
    // an unsupported handler/cipher) streams stay as-is and decode
    // fails downstream — the documented degrade-to-no-text contract.
    val dec = PdfCrypt.decryptorFor(latin1(bytes), direct0)
    val direct = PdfCrypt.applyTo(dec, direct0)
    val packed = direct.values
      .filter(o => isObjStm(o.dict))
      .flatMap(expandObjStm)
      .toMap
    // Cross-reference-stream discovery is AUTHORITATIVE where it
    // parses: exact offsets plus indirect-/Length resolution give
    // stream extents the tolerant scan can only approximate (a literal
    // "endstream" inside a stream payload truncates the scan's extent
    // but not the xref path's). Classic-trailer files yield an empty
    // map here and are untouched; a corrupt xref stream degrades to
    // the linear scan (tolerant contract).
    packed ++ direct ++ xrefObjects(bytes, dec)
  }

  private def isObjStm(dict: String): Boolean =
    raw"/Type\s*/ObjStm".r.findFirstIn(dict).isDefined

  /** Unpack one /Type /ObjStm stream: the decoded payload opens with
    * /N (objnum, offset) integer pairs; object bodies start at /First.
    * Streams cannot nest inside an ObjStm, so every entry is a plain
    * dictionary/body object.
    */
  private def expandObjStm(obj: PdfObj): Seq[(Int, PdfObj)] = {
    val n = raw"/N\s+(\d+)".r.findFirstMatchIn(obj.dict).map(_.group(1).toInt)
    val first = raw"/First\s+(\d+)".r.findFirstMatchIn(obj.dict).map(_.group(1).toInt)
    (n, first, decodeStream(obj)) match {
      case (Some(n), Some(first), Some(data)) if first <= data.length =>
        val s = latin1(data)
        val header = raw"\d+".r.findAllIn(s.substring(0, first)).map(_.toInt).toSeq
        val pairs = header.grouped(2).collect { case Seq(num, off) => (num, off) }.toSeq.take(n)
        pairs.zipWithIndex.map { case ((num, off), i) =>
          val start = math.min(first + off, s.length)
          val end = pairs.lift(i + 1).map(p => math.min(first + p._2, s.length)).getOrElse(s.length)
          num -> PdfObj(s.substring(start, end), None)
        }
      case _ => Nil
    }
  }

  private def scanTopLevel(bytes: Array[Byte]): Map[Int, PdfObj] = {
    val s = latin1(bytes)
    objRe.findAllMatchIn(s).flatMap { m =>
      parseObjBody(bytes, s, m.end)
        .map(o => m.group(1).toInt -> o.copy(gen = m.group(2).toInt))
    }.toMap
  }

  private val indLengthRe = raw"/Length\s+(\d+)\s+\d+\s+R".r

  /** Parse one object body starting right after its `N 0 obj` header.
    * `resolveLen` supplies the value of an indirect /Length reference
    * (available on the xref path, where the object table is known);
    * without it, extents fall back to the first `endstream`.
    *
    * `trustLength` (xref path only — offsets there come from the file's
    * own cross-reference table, so /Length is authoritative and stream
    * data may legitimately contain the bytes `endobj`): accept a length
    * that runs past the first `endobj` occurrence. On the scan path a
    * corrupt oversized /Length must NOT swallow bytes past the object's
    * real end — validate against the `endobj` bound and fall back to
    * the `endstream` search when the declared length overruns it.
    */
  private def parseObjBody(bytes: Array[Byte], s: String, bodyStart: Int,
                           resolveLen: Int => Option[Int] = _ => None,
                           trustLength: Boolean = false): Option[PdfObj] = {
    val end = s.indexOf("endobj", bodyStart)
    if (end < 0) None
    else {
      val body = s.substring(bodyStart, end)
      val streamKw = body.indexOf("stream")
      if (streamKw < 0) Some(PdfObj(body, None))
      else {
        val dict = body.substring(0, streamKw)
        // data starts after 'stream' + EOL (CRLF or LF per spec)
        var dataStart = bodyStart + streamKw + "stream".length
        if (dataStart < s.length && s.charAt(dataStart) == '\r') dataStart += 1
        if (dataStart < s.length && s.charAt(dataStart) == '\n') dataStart += 1
        val direct = lengthRe.findFirstMatchIn(dict).map(_.group(1).toInt)
        val indirect = indLengthRe.findFirstMatchIn(dict)
          .flatMap(m => resolveLen(m.group(1).toInt))
        val bound = if (trustLength) bytes.length else end
        val dataEnd = direct.orElse(indirect) match {
          case Some(len) if dataStart + len <= bound => dataStart + len
          case _ =>
            val e = s.indexOf("endstream", dataStart)
            if (e < 0) dataStart else e
        }
        Some(PdfObj(dict, Some(java.util.Arrays.copyOfRange(bytes, dataStart, math.max(dataStart, dataEnd)))))
      }
    }
  }

  /** Parse the object whose header starts AT `off` (an xref offset). */
  private def parseObjAt(bytes: Array[Byte], s: String, off: Int,
                         resolveLen: Int => Option[Int] = _ => None): Option[(Int, PdfObj)] = {
    if (off < 0 || off >= s.length) return None
    val m = objRe.pattern.matcher(s)
    m.region(off, s.length)
    if (!m.lookingAt) None
    else parseObjBody(bytes, s, m.end, resolveLen, trustLength = true)
      .map(o => m.group(1).toInt -> o.copy(gen = m.group(2).toInt))
  }

  private val startxrefRe = raw"startxref\s+(\d+)".r

  /** Object discovery through cross-reference STREAMS (`/Type /XRef`,
    * PDF 32000 §7.5.8) — the PDF-1.5+ layout where the xref table is
    * itself a compressed stream and there may be no classic trailer at
    * all: follow `startxref` to the stream, decode its /W-packed
    * entries (type 1 = offset, type 2 = packed in an ObjStm), walk the
    * /Prev chain, parse type-1 objects at their exact offsets, expand
    * ObjStms, then re-parse any stream whose /Length is an indirect
    * reference now that the referenced integer object is known. Returns
    * empty when no xref stream exists (classic-trailer files) or on any
    * parse failure.
    */
  private[sources] def xrefObjects(bytes: Array[Byte]): Map[Int, PdfObj] =
    xrefObjects(bytes, None)

  private[sources] def xrefObjects(bytes: Array[Byte],
                                   dec: Option[PdfCrypt.Decryptor]): Map[Int, PdfObj] = try {
    val s = latin1(bytes)
    val starts = startxrefRe.findAllMatchIn(s).map(_.group(1).toInt).toSeq
    if (starts.isEmpty) return Map.empty
    val offsets = scala.collection.mutable.LinkedHashMap.empty[Int, Int] // objnum -> offset
    val visited = scala.collection.mutable.Set.empty[Int]
    var queue = List(starts.last)
    while (queue.nonEmpty) {
      val off = queue.head
      queue = queue.tail
      if (visited.add(off)) {
        parseObjAt(bytes, s, off) match {
          case Some((_, x)) if raw"/Type\s*/XRef".r.findFirstIn(x.dict).isDefined =>
            val w = raw"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]".r.findFirstMatchIn(x.dict)
              .map(m => (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt))
            val size = raw"/Size\s+(\d+)".r.findFirstMatchIn(x.dict).map(_.group(1).toInt)
            val index = raw"(?s)/Index\s*\[(.*?)\]".r.findFirstMatchIn(x.dict)
              .map(m => raw"\d+".r.findAllIn(m.group(1)).map(_.toInt).toSeq.grouped(2)
                .collect { case Seq(a, b) => (a, b) }.toSeq)
              .orElse(size.map(n => Seq((0, n))))
            (w, index, decodeStream(x)) match {
              case (Some((w1, w2, w3)), Some(ranges), Some(data)) =>
                val rowLen = w1 + w2 + w3
                var row = 0
                def field(r: Int, fOff: Int, fLen: Int, dflt: Long): Long =
                  if (fLen == 0) dflt
                  else (0 until fLen).foldLeft(0L)((a, i) => (a << 8) | (data(r * rowLen + fOff + i) & 0xFF))
                for ((start, count) <- ranges; i <- 0 until count
                     if (row + 1) * rowLen <= data.length) {
                  val typ = field(row, 0, w1, 1L)
                  val f2 = field(row, w1, w2, 0L)
                  if (typ == 1L && !offsets.contains(start + i)) offsets(start + i) = f2.toInt
                  row += 1
                }
              case _ =>
            }
            raw"/Prev\s+(\d+)".r.findFirstMatchIn(x.dict).foreach(m => queue ::= m.group(1).toInt)
          case _ =>
        }
      }
    }
    if (offsets.isEmpty) return Map.empty
    // pass 1: direct-length (or endstream-bounded) extents; decrypt
    // before ObjStm expansion (the packed table is an encrypted stream)
    val top = PdfCrypt.applyTo(dec,
      offsets.flatMap { case (_, off) => parseObjAt(bytes, s, off) }.toMap)
    val packed = top.values.filter(o => isObjStm(o.dict)).flatMap(expandObjStm).toMap
    val all = packed ++ top
    def lenOf(n: Int): Option[Int] =
      all.get(n).flatMap(o => raw"\d+".r.findFirstIn(o.dict.trim)).map(_.toInt)
    // pass 2: re-parse streams with indirect /Length at exact extents
    val fixed = PdfCrypt.applyTo(dec,
      offsets.flatMap { case (num, off) =>
        top.get(num).filter(o => o.stream.isDefined && indLengthRe.findFirstMatchIn(o.dict).isDefined)
          .flatMap(_ => parseObjAt(bytes, s, off, lenOf))
      }.toMap)
    packed ++ top ++ fixed
  } catch { case _: Exception => Map.empty }

  /** Decode a stream through its declared /Filter CHAIN (a single name
    * or an array applied left to right, PDF 32000 §7.4): FlateDecode
    * (JDK inflater), LZWDecode (variable-width, /EarlyChange default 1),
    * RunLengthDecode, ASCII85Decode and ASCIIHexDecode — the non-image
    * filters PyMuPDF reads (`/root/reference/src/pdf_extractor.py:8-13`
    * reaches them all through fitz). Flate/LZW output additionally
    * passes the PNG predictor declared in /DecodeParms (modern writers
    * emit /Predictor 12 on xref and object streams almost universally).
    * Unfiltered streams pass through; image filters (DCT/JPX/CCITT) and
    * decode errors yield no text (skip, not crash — tolerant-extractor
    * contract).
    */
  private val filterSpecRe = raw"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)".r
  private val filterNameRe = raw"/([A-Za-z0-9]+)".r

  private[sources] def decodeStream(obj: PdfObj): Option[Array[Byte]] =
    obj.stream.flatMap { raw =>
      filterSpecRe.findFirstMatchIn(obj.dict) match {
        case None => Some(raw)
        case Some(m) =>
          val names = filterNameRe.findAllMatchIn(m.group(1)).map(_.group(1)).toList
          try {
            names.foldLeft(Option(raw)) { (acc, name) =>
              acc.flatMap { data =>
                name match {
                  case "FlateDecode" => Some(unpredict(inflate(data), obj.dict))
                  case "LZWDecode" =>
                    val early = raw"/EarlyChange\s+(\d+)".r
                      .findFirstMatchIn(obj.dict).map(_.group(1).toInt).getOrElse(1)
                    Some(unpredict(lzwDecode(data, early), obj.dict))
                  case "RunLengthDecode" => Some(runLengthDecode(data))
                  case "ASCII85Decode" => Some(ascii85Decode(data))
                  case "ASCIIHexDecode" => Some(asciiHexDecode(data))
                  case _ => None
                }
              }
            }
          } catch { case _: Exception => None }
      }
    }

  private def inflate(raw: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(raw)
    val out = new java.io.ByteArrayOutputStream(raw.length * 4)
    val buf = new Array[Byte](8192)
    while (!inf.finished() && !inf.needsInput()) {
      val n = inf.inflate(buf)
      if (n > 0) out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }

  /** PDF/TIFF-variant LZW: MSB-first codes growing 9→12 bits, 256 =
    * clear, 257 = EOD. With /EarlyChange 1 (the default) the code width
    * bumps one entry early — after the table reaches 511/1023/2047
    * entries — matching what every mainstream reader and writer emits.
    */
  private[sources] def lzwDecode(data: Array[Byte], earlyChange: Int = 1): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4)
    val table = new Array[Array[Byte]](4096)
    var i = 0
    while (i < 256) { table(i) = Array(i.toByte); i += 1 }
    var size = 258
    var width = 9
    var prev: Array[Byte] = null
    var bitBuf = 0L
    var bits = 0
    var pos = 0
    var done = false
    while (!done) {
      while (bits < width && pos < data.length) {
        bitBuf = (bitBuf << 8) | (data(pos) & 0xFF); bits += 8; pos += 1
      }
      if (bits < width) done = true
      else {
        val code = ((bitBuf >>> (bits - width)) & ((1L << width) - 1)).toInt
        bits -= width
        if (code == 256) { size = 258; width = 9; prev = null }
        else if (code == 257) done = true
        else {
          val entry =
            if (code < size && code < 256) table(code)
            else if (code < size && table(code) != null) table(code)
            else if (prev != null) prev :+ prev(0) // the KwKwK special case
            else { done = true; null }
          if (entry != null) {
            out.write(entry)
            if (prev != null && size < 4096) {
              table(size) = prev :+ entry(0)
              size += 1
              if (size + earlyChange == 512) width = 10
              else if (size + earlyChange == 1024) width = 11
              else if (size + earlyChange == 2048) width = 12
            }
            prev = entry
          }
        }
      }
    }
    out.toByteArray
  }

  /** RunLengthDecode (PDF 32000 §7.4.5): length byte 0..127 copies the
    * next length+1 bytes; 129..255 repeats the next byte 257−length
    * times; 128 is EOD.
    */
  private[sources] def runLengthDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 2)
    var i = 0
    while (i < data.length) {
      val l = data(i) & 0xFF
      i += 1
      if (l == 128) i = data.length
      else if (l < 128) {
        val n = math.min(l + 1, data.length - i)
        out.write(data, i, math.max(0, n)); i += l + 1
      } else if (i < data.length) {
        val b = data(i); i += 1
        var k = 0
        while (k < 257 - l) { out.write(b); k += 1 }
      }
    }
    out.toByteArray
  }

  /** ASCII85Decode: 5 chars '!'..'u' → 4 bytes base-85 big-endian; 'z'
    * is a whole zero group; whitespace skipped; `~>` (or running out of
    * input) terminates; a final partial group of n chars pads with 'u'
    * and keeps n−1 bytes.
    */
  private[sources] def ascii85Decode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length)
    var tuple = 0L
    var n = 0
    var i = 0
    var done = false
    def flush4(t: Long): Unit = {
      out.write(((t >>> 24) & 0xFF).toInt); out.write(((t >>> 16) & 0xFF).toInt)
      out.write(((t >>> 8) & 0xFF).toInt); out.write((t & 0xFF).toInt)
    }
    while (i < data.length && !done) {
      val c = (data(i) & 0xFF).toChar
      if (c == '~') done = true
      else if (c == 'z' && n == 0) flush4(0L)
      else if (c >= '!' && c <= 'u') {
        tuple = tuple * 85 + (c - '!'); n += 1
        if (n == 5) { flush4(tuple); tuple = 0; n = 0 }
      } // anything else (whitespace) is skipped
      i += 1
    }
    if (n > 1) {
      var k = n
      while (k < 5) { tuple = tuple * 85 + 84; k += 1 }
      val b = Array(((tuple >>> 24) & 0xFF).toByte, ((tuple >>> 16) & 0xFF).toByte,
        ((tuple >>> 8) & 0xFF).toByte, (tuple & 0xFF).toByte)
      out.write(b, 0, n - 1)
    }
    out.toByteArray
  }

  /** ASCIIHexDecode: hex pairs, whitespace skipped, `>` terminates, an
    * odd trailing digit behaves as if followed by 0.
    */
  private[sources] def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2)
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = (data(i) & 0xFF).toChar
      if (c == '>') done = true
      else {
        val d = Character.digit(c, 16)
        if (d >= 0) {
          if (hi < 0) hi = d
          else { out.write((hi << 4) | d); hi = -1 }
        }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    out.toByteArray
  }

  /** Reverse the PNG row predictor (PDF 32000 §7.4.4.4 via RFC 2083):
    * each row of /Columns bytes is prefixed with a filter-type byte
    * (0 none, 1 sub, 2 up, 3 average, 4 Paeth) and reconstructed
    * against the previous row. /Predictor < 10 (or absent) is a no-op;
    * /Colors//BitsPerComponent other than 1×8 only change the pixel
    * byte width.
    */
  private def unpredict(data: Array[Byte], dict: String): Array[Byte] = {
    val pred = raw"/Predictor\s+(\d+)".r.findFirstMatchIn(dict).map(_.group(1).toInt).getOrElse(1)
    if (pred < 10) return data
    val cols = raw"/Columns\s+(\d+)".r.findFirstMatchIn(dict).map(_.group(1).toInt).getOrElse(1)
    val colors = raw"/Colors\s+(\d+)".r.findFirstMatchIn(dict).map(_.group(1).toInt).getOrElse(1)
    val bpc = raw"/BitsPerComponent\s+(\d+)".r.findFirstMatchIn(dict).map(_.group(1).toInt).getOrElse(8)
    val bpp = math.max(1, colors * bpc / 8) // bytes per pixel
    val rowLen = cols * bpp
    val nRows = data.length / (rowLen + 1)
    val out = new Array[Byte](nRows * rowLen)
    var r = 0
    while (r < nRows) {
      val ft = data(r * (rowLen + 1)) & 0xFF
      val src = r * (rowLen + 1) + 1
      val dst = r * rowLen
      var i = 0
      while (i < rowLen) {
        val x = data(src + i) & 0xFF
        val a = if (i >= bpp) out(dst + i - bpp) & 0xFF else 0 // left
        val b = if (r > 0) out(dst - rowLen + i) & 0xFF else 0 // up
        val c = if (r > 0 && i >= bpp) out(dst - rowLen + i - bpp) & 0xFF else 0 // up-left
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 => // Paeth
            val p = a + b - c
            val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => x
        }
        out(dst + i) = (v & 0xFF).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  // ---------------------------------------------------- page discovery

  private val refRe = raw"(\d+)\s+\d+\s+R".r

  /** Page object numbers in DOCUMENT order: walk Catalog → /Pages →
    * /Kids recursively (the authoritative order); fall back to
    * object-number order over `/Type /Page` dicts for files with a
    * damaged catalog.
    */
  private[sources] def pageOrder(objs: Map[Int, PdfObj]): Seq[Int] = {
    def kids(num: Int, depth: Int): Seq[Int] =
      if (depth > 32) Nil // cycle guard
      else objs.get(num).toSeq.flatMap { o =>
        if (raw"/Type\s*/Page\b(?!s)".r.findFirstIn(o.dict).isDefined) Seq(num)
        else
          raw"(?s)/Kids\s*\[(.*?)\]".r.findFirstMatchIn(o.dict).toSeq.flatMap { m =>
            refRe.findAllMatchIn(m.group(1)).map(_.group(1).toInt).toSeq
              .flatMap(kids(_, depth + 1))
          }
      }
    val fromCatalog = for {
      (_, o) <- objs.toSeq.sortBy(_._1).find(_._2.dict.contains("/Catalog"))
      m <- raw"/Pages\s+(\d+)\s+\d+\s+R".r.findFirstMatchIn(o.dict)
    } yield kids(m.group(1).toInt, 0)
    fromCatalog.filter(_.nonEmpty).getOrElse(
      objs.toSeq.sortBy(_._1)
        .filter(o => raw"/Type\s*/Page\b(?!s)".r.findFirstIn(o._2.dict).isDefined)
        .map(_._1))
  }

  /** Page height from /MediaBox (page dict, else any /Pages ancestor,
    * else US-Letter 792) — needed to flip PDF's bottom-up y.
    */
  private def pageHeight(objs: Map[Int, PdfObj], page: Int): Double = {
    val boxRe = raw"/MediaBox\s*\[\s*([-\d.]+)\s+([-\d.]+)\s+([-\d.]+)\s+([-\d.]+)\s*\]".r
    def box(d: String) = boxRe.findFirstMatchIn(d).map(m => m.group(4).toDouble - m.group(2).toDouble)
    objs.get(page).flatMap(o => box(o.dict))
      .orElse(objs.values.collectFirst {
        case o if o.dict.contains("/Pages") && box(o.dict).isDefined => box(o.dict).get
      })
      .getOrElse(792.0)
  }

  /** A page's full content: its /Contents streams (single ref or array)
    * decoded and concatenated with newlines.
    */
  private def pageContent(objs: Map[Int, PdfObj], page: Int): String =
    objs.get(page).toSeq.flatMap { o =>
      val contents =
        raw"(?s)/Contents\s*\[(.*?)\]".r.findFirstMatchIn(o.dict)
          .map(m => refRe.findAllMatchIn(m.group(1)).map(_.group(1).toInt).toSeq)
          .orElse(raw"/Contents\s+(\d+)\s+\d+\s+R".r.findFirstMatchIn(o.dict)
            .map(m => Seq(m.group(1).toInt)))
          .getOrElse(Nil)
      contents.flatMap(n => objs.get(n)).flatMap(decodeStream).map(latin1)
    }.mkString("\n")

  // ------------------------------------------------ font / CMap decoding

  /** Parse a /ToUnicode CMap: `beginbfchar` pairs and `beginbfrange`
    * runs (both the consecutive-increment and explicit-array forms) map
    * character codes to UTF-16BE destination text — a destination may
    * be several UTF-16 units (ligatures, surrogate pairs).
    */
  private[graft] def parseToUnicodeCMap(cmap: String): Map[Int, String] = {
    val hex = raw"<([0-9A-Fa-f]+)>"
    def code(h: String): Int = java.lang.Integer.parseInt(h, 16)
    def utf16(h: String): String = {
      val p = if (h.length % 4 == 0) h else ("0" * (4 - h.length % 4)) + h
      p.grouped(4).map(g => java.lang.Integer.parseInt(g, 16).toChar).mkString
    }
    val out = Map.newBuilder[Int, String]
    raw"(?s)beginbfchar(.*?)endbfchar".r.findAllMatchIn(cmap).foreach { m =>
      raw"$hex\s*$hex".r.findAllMatchIn(m.group(1)).foreach { e =>
        out += code(e.group(1)) -> utf16(e.group(2))
      }
    }
    raw"(?s)beginbfrange(.*?)endbfrange".r.findAllMatchIn(cmap).foreach { m =>
      // explicit-array form first: <lo> <hi> [<d0> <d1> ...]
      val arrayForm = raw"(?s)$hex\s*$hex\s*\[(.*?)\]".r
      val body = m.group(1)
      arrayForm.findAllMatchIn(body).foreach { e =>
        val lo = code(e.group(1))
        hex.r.findAllMatchIn(e.group(3)).zipWithIndex.foreach { case (d, i) =>
          out += (lo + i) -> utf16(d.group(1))
        }
      }
      // increment form on what remains: <lo> <hi> <dst>
      raw"$hex\s*$hex\s*$hex".r.findAllMatchIn(arrayForm.replaceAllIn(body, " ")).foreach { e =>
        val (lo, hi) = (code(e.group(1)), code(e.group(2)))
        val dst = utf16(e.group(3))
        // increment applies to the LAST UTF-16 unit (PDF 32000 §9.10.3)
        (0 to (hi - lo)).foreach { i =>
          out += (lo + i) -> (dst.dropRight(1) + (dst.last + i).toChar)
        }
      }
    }
    out.result()
  }

  /** A font's show-string decoder: raw string bytes (as Latin-1 chars)
    * → Unicode text.
    */
  private type Decoder = String => String
  private val Latin1Decoder: Decoder = identity

  // --------------------------- glyph names / encodings (simple fonts)

  /** Adobe Glyph List subset: the Standard/WinAnsi/Latin-1 population a
    * `/Encoding /Differences` array names in practice (the full public
    * AGL is ~4.5k rows; everything outside this subset still resolves
    * through the uniXXXX/uXX rules below). Data transcribed from the
    * public Adobe Glyph List (AGL) specification.
    */
  private val aglMap: Map[String, String] = {
    val ascii = Map(
      "space" -> " ", "exclam" -> "!", "quotedbl" -> "\"", "numbersign" -> "#",
      "dollar" -> "$", "percent" -> "%", "ampersand" -> "&", "quotesingle" -> "'",
      "parenleft" -> "(", "parenright" -> ")", "asterisk" -> "*", "plus" -> "+",
      "comma" -> ",", "hyphen" -> "-", "period" -> ".", "slash" -> "/",
      "zero" -> "0", "one" -> "1", "two" -> "2", "three" -> "3", "four" -> "4",
      "five" -> "5", "six" -> "6", "seven" -> "7", "eight" -> "8", "nine" -> "9",
      "colon" -> ":", "semicolon" -> ";", "less" -> "<", "equal" -> "=",
      "greater" -> ">", "question" -> "?", "at" -> "@", "bracketleft" -> "[",
      "backslash" -> "\\", "bracketright" -> "]", "asciicircum" -> "^",
      "underscore" -> "_", "grave" -> "`", "braceleft" -> "{", "bar" -> "|",
      "braceright" -> "}", "asciitilde" -> "~")
    val latin1 = Seq(
      0xA1 -> "exclamdown", 0xA2 -> "cent", 0xA3 -> "sterling", 0xA4 -> "currency",
      0xA5 -> "yen", 0xA6 -> "brokenbar", 0xA7 -> "section", 0xA8 -> "dieresis",
      0xA9 -> "copyright", 0xAA -> "ordfeminine", 0xAB -> "guillemotleft",
      0xAC -> "logicalnot", 0xAE -> "registered", 0xAF -> "macron", 0xB0 -> "degree",
      0xB1 -> "plusminus", 0xB2 -> "twosuperior", 0xB3 -> "threesuperior",
      0xB4 -> "acute", 0xB5 -> "mu", 0xB6 -> "paragraph", 0xB7 -> "periodcentered",
      0xB8 -> "cedilla", 0xB9 -> "onesuperior", 0xBA -> "ordmasculine",
      0xBB -> "guillemotright", 0xBC -> "onequarter", 0xBD -> "onehalf",
      0xBE -> "threequarters", 0xBF -> "questiondown", 0xC0 -> "Agrave",
      0xC1 -> "Aacute", 0xC2 -> "Acircumflex", 0xC3 -> "Atilde", 0xC4 -> "Adieresis",
      0xC5 -> "Aring", 0xC6 -> "AE", 0xC7 -> "Ccedilla", 0xC8 -> "Egrave",
      0xC9 -> "Eacute", 0xCA -> "Ecircumflex", 0xCB -> "Edieresis", 0xCC -> "Igrave",
      0xCD -> "Iacute", 0xCE -> "Icircumflex", 0xCF -> "Idieresis", 0xD0 -> "Eth",
      0xD1 -> "Ntilde", 0xD2 -> "Ograve", 0xD3 -> "Oacute", 0xD4 -> "Ocircumflex",
      0xD5 -> "Otilde", 0xD6 -> "Odieresis", 0xD7 -> "multiply", 0xD8 -> "Oslash",
      0xD9 -> "Ugrave", 0xDA -> "Uacute", 0xDB -> "Ucircumflex", 0xDC -> "Udieresis",
      0xDD -> "Yacute", 0xDE -> "Thorn", 0xDF -> "germandbls", 0xE0 -> "agrave",
      0xE1 -> "aacute", 0xE2 -> "acircumflex", 0xE3 -> "atilde", 0xE4 -> "adieresis",
      0xE5 -> "aring", 0xE6 -> "ae", 0xE7 -> "ccedilla", 0xE8 -> "egrave",
      0xE9 -> "eacute", 0xEA -> "ecircumflex", 0xEB -> "edieresis", 0xEC -> "igrave",
      0xED -> "iacute", 0xEE -> "icircumflex", 0xEF -> "idieresis", 0xF0 -> "eth",
      0xF1 -> "ntilde", 0xF2 -> "ograve", 0xF3 -> "oacute", 0xF4 -> "ocircumflex",
      0xF5 -> "otilde", 0xF6 -> "odieresis", 0xF7 -> "divide", 0xF8 -> "oslash",
      0xF9 -> "ugrave", 0xFA -> "uacute", 0xFB -> "ucircumflex", 0xFC -> "udieresis",
      0xFD -> "yacute", 0xFE -> "thorn", 0xFF -> "ydieresis")
      .map { case (c, n) => n -> c.toChar.toString }.toMap
    val typographic = Seq(
      0x2018 -> "quoteleft", 0x2019 -> "quoteright", 0x201C -> "quotedblleft",
      0x201D -> "quotedblright", 0x201A -> "quotesinglbase", 0x201E -> "quotedblbase",
      0x2013 -> "endash", 0x2014 -> "emdash", 0x2022 -> "bullet", 0x2026 -> "ellipsis",
      0x2020 -> "dagger", 0x2021 -> "daggerdbl", 0x2030 -> "perthousand",
      0x2039 -> "guilsinglleft", 0x203A -> "guilsinglright", 0x20AC -> "Euro",
      0x2122 -> "trademark", 0x2212 -> "minus", 0x2044 -> "fraction",
      0x0192 -> "florin", 0x02C6 -> "circumflex", 0x02DC -> "tilde",
      0x0131 -> "dotlessi", 0x0141 -> "Lslash", 0x0142 -> "lslash",
      0x0152 -> "OE", 0x0153 -> "oe", 0x0160 -> "Scaron", 0x0161 -> "scaron",
      0x0178 -> "Ydieresis", 0x017D -> "Zcaron", 0x017E -> "zcaron",
      0x02D8 -> "breve", 0x02D9 -> "dotaccent", 0x02DA -> "ring", 0x02DB -> "ogonek",
      0x02DD -> "hungarumlaut", 0x02C7 -> "caron", 0xFB01 -> "fi", 0xFB02 -> "fl")
      .map { case (c, n) => n -> c.toChar.toString }.toMap
    ascii ++ latin1 ++ typographic
  }

  /** One glyph name → Unicode (AGL subset, uniXXXX / uXXXX[XX] forms,
    * `.variant` suffixes stripped, single-char names map to themselves
    * per the AGL algorithm). Unknown names yield None — the caller
    * falls through to the base encoding rather than guessing.
    */
  private[graft] def glyphToUnicode(name: String): Option[String] = {
    val base = name.takeWhile(_ != '.') // a.sc, one.oldstyle glyph variants
    aglMap.get(base).orElse {
      if (raw"uni([0-9A-Fa-f]{4})+".r.matches(base))
        Some(base.drop(3).grouped(4)
          .map(h => java.lang.Integer.parseInt(h, 16).toChar).mkString)
      else if (raw"u[0-9A-Fa-f]{4,6}".r.matches(base))
        Some(new String(Character.toChars(java.lang.Integer.parseInt(base.drop(1), 16))))
      else if (base.length == 1) Some(base)
      else None
    }
  }

  /** Parse an encoding dictionary's `/Differences [ code /name ... ]`
    * array (PDF 32000 §9.6.5.1): each integer resets the current code;
    * each name assigns that code and increments. Names that resolve to
    * no Unicode still consume their code slot.
    */
  private[graft] def parseDifferences(enc: String): Map[Int, String] = {
    raw"(?s)/Differences\s*\[(.*?)\]".r.findFirstMatchIn(enc).map { m =>
      val out = Map.newBuilder[Int, String]
      var code = 0
      raw"(\d+)|/([^\s/\[\]<>()]+)".r.findAllMatchIn(m.group(1)).foreach { t =>
        if (t.group(1) != null) code = t.group(1).toInt
        else {
          glyphToUnicode(t.group(2)).foreach(u => out += code -> u)
          code += 1
        }
      }
      out.result()
    }.getOrElse(Map.empty)
  }

  /** WinAnsiEncoding's 0x80–0x9F block (the only range where it departs
    * from Latin-1), via the JVM's public windows-1252 decoder.
    */
  private val cp1252Hi: IndexedSeq[String] = {
    val cs = java.nio.charset.Charset.forName("windows-1252")
    (0x80 to 0x9F).map(c => new String(Array(c.toByte), cs))
  }

  // ----------------------------- predefined CMaps (Type0 w/o ToUnicode)

  /** Decoder for a Type0 font that names a PREDEFINED CMap (PDF 32000
    * §9.7.5.2) and embeds no /ToUnicode — the pre-2005 CJK-authored
    * population (exactly the reference's Chinese-courseware corpus,
    * `/root/reference/src/main.py:85-86`) that PyMuPDF reads through
    * its bundled Adobe CMap tables. No tables are needed here, because
    * the predefined encodings' CODE SPACE is itself a public text
    * encoding:
    *   - the `Uni*-UCS2/UTF16` family (UniGB-UCS2-H etc.) consumes
    *     2-byte codes that ARE Unicode values — decode as UTF-16BE;
    *   - the legacy national-charset family (GBK-EUC, B5pc, RKSJ,
    *     KSC-EUC, ...) consumes bytes in exactly the charset the JVM
    *     ships a decoder for — decode the raw bytes with it.
    * Identity-H/V without ToUnicode stays textless: its codes are font-
    * private glyph ids with no public meaning (same degrade as before).
    */
  private def predefinedCMapDecoder(dict: String): Option[Decoder] = {
    raw"/Encoding\s*/([\w-]+)".r.findFirstMatchIn(dict).map(_.group(1)).flatMap { enc =>
      if (raw"Uni\w+-(?:UCS2|UTF16)-[HV]".r.matches(enc))
        Some((raw2: String) => raw2.grouped(2).collect {
          case cs if cs.length == 2 => (((cs.charAt(0) << 8) | cs.charAt(1))).toChar
        }.mkString)
      else {
        val charset =
          if (enc.startsWith("UniGB-UTF8")) Some("UTF-8")
          else if (enc.startsWith("GBK") || enc.startsWith("GBKp")) Some("GBK")
          else if (enc.startsWith("GB-EUC")) Some("GB2312")
          else if (enc.startsWith("HKscs-B5")) Some("Big5-HKSCS")
          else if (enc.startsWith("B5pc") || enc.startsWith("ETen-B5")) Some("Big5")
          else if (enc.contains("RKSJ")) Some("Shift_JIS")
          else if (enc == "EUC-H" || enc == "EUC-V") Some("EUC-JP")
          else if (enc.startsWith("KSC-EUC")) Some("EUC-KR")
          else if (enc.startsWith("KSCms-UHC")) Some("x-windows-949")
          else None
        charset.filter(java.nio.charset.Charset.isSupported).map { name =>
          val cs = java.nio.charset.Charset.forName(name)
          (raw2: String) => new String(raw2.toCharArray.map(_.toByte), cs)
        }
      }
    }
  }

  // ------------------- embedded-TrueType cmap (Identity-H fallback)

  /** Parse an sfnt (TrueType) font's `cmap` table into unicode → glyph
    * id, covering the format 4 (segmented BMP) and format 12
    * (sequential groups) subtables that carry Unicode mappings in
    * practice. Public format: OpenType/TrueType spec §cmap. Returns
    * empty on anything malformed — the caller degrades to no text,
    * never garbage.
    */
  private[graft] def parseTrueTypeCmap(font: Array[Byte]): Map[Int, Int] = {
    def u8(i: Int): Int = font(i) & 0xFF
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def u32(i: Int): Long = (u16(i).toLong << 16) | u16(i + 2)
    try {
      val numTables = u16(4)
      val cmapOff = (0 until numTables).iterator.map(12 + 16 * _)
        .find(r => new String(font, r, 4, "ISO-8859-1") == "cmap")
        .map(r => u32(r + 8).toInt)
        .getOrElse(return Map.empty)
      val nSub = u16(cmapOff + 2)
      // prefer Windows-BMP (3,1) / Windows-full (3,10), else Unicode
      // platform 0 — the records that hold Unicode code points
      val subs = (0 until nSub).map { i =>
        val r = cmapOff + 4 + 8 * i
        (u16(r), u16(r + 2), cmapOff + u32(r + 4).toInt)
      }
      val sub = subs.find(s => s._1 == 3 && (s._2 == 1 || s._2 == 10))
        .orElse(subs.find(_._1 == 0))
        .map(_._3)
        .getOrElse(return Map.empty)
      u16(sub) match {
        case 4 =>
          val segCount = u16(sub + 6) / 2
          val endAt = sub + 14
          val startAt = endAt + segCount * 2 + 2
          val deltaAt = startAt + segCount * 2
          val rangeAt = deltaAt + segCount * 2
          val out = Map.newBuilder[Int, Int]
          for (s <- 0 until segCount) {
            val end = u16(endAt + 2 * s); val start = u16(startAt + 2 * s)
            val delta = u16(deltaAt + 2 * s); val ro = u16(rangeAt + 2 * s)
            if (start != 0xFFFF) {
              var c = start
              while (c <= end && c != 0x10000) {
                val gid =
                  if (ro == 0) (c + delta) & 0xFFFF
                  else {
                    val at = rangeAt + 2 * s + ro + 2 * (c - start)
                    if (at + 1 < font.length) {
                      val g = u16(at)
                      if (g == 0) 0 else (g + delta) & 0xFFFF
                    } else 0
                  }
                if (gid != 0) out += c -> gid
                c += 1
              }
            }
          }
          out.result()
        case 12 =>
          val nGroups = u32(sub + 12).toInt
          val out = Map.newBuilder[Int, Int]
          for (g <- 0 until math.min(nGroups, 10000)) {
            val r = sub + 16 + 12 * g
            val start = u32(r).toInt; val end = u32(r + 4).toInt
            val gid0 = u32(r + 8).toInt
            var c = start
            while (c <= end && c - start < 0x10000) {
              out += c -> (gid0 + (c - start)); c += 1
            }
          }
          out.result()
        case _ => Map.empty
      }
    } catch { case _: IndexOutOfBoundsException => Map.empty }
  }

  /** Identity-H/V WITHOUT /ToUnicode: the CIDs are glyph ids, and the
    * embedded TrueType program itself knows which Unicode maps to each
    * glyph — its `cmap` table. Inverting it (smallest code point wins,
    * deterministic) recovers gid → text, which is exactly how
    * full-featured extractors read this font population. Applies only
    * under /CIDToGIDMap /Identity (or absent, whose default is
    * Identity); a custom CIDToGIDMap stream degrades to no text as
    * before.
    */
  private def identityCmapDecoder(objs: Map[Int, PdfObj], dict: String): Option[Decoder] = {
    if (raw"/Encoding\s*/Identity-[HV]".r.findFirstIn(dict).isEmpty) None
    else {
      val desc = raw"/DescendantFonts\s*\[?\s*(\d+)\s+\d+\s+R".r
        .findFirstMatchIn(dict).flatMap(m => objs.get(m.group(1).toInt))
      desc.filter(d =>
          raw"/CIDToGIDMap\s*/(\w+)".r.findFirstMatchIn(d.dict)
            .forall(_.group(1) == "Identity") &&
          raw"/CIDToGIDMap\s+\d+\s+\d+\s+R".r.findFirstIn(d.dict).isEmpty)
        .flatMap(d => raw"/FontDescriptor\s+(\d+)\s+\d+\s+R".r
          .findFirstMatchIn(d.dict).flatMap(m => objs.get(m.group(1).toInt)))
        .flatMap(fd => raw"/FontFile2\s+(\d+)\s+\d+\s+R".r
          .findFirstMatchIn(fd.dict).flatMap(m => objs.get(m.group(1).toInt)))
        .flatMap(decodeStream)
        .map(parseTrueTypeCmap)
        .filter(_.nonEmpty)
        .map { uniToGid =>
          val gidToUni: Map[Int, Int] =
            uniToGid.groupBy(_._2).map { case (g, m) => g -> m.keys.min }
          (raw2: String) => raw2.grouped(2).collect {
            case cs if cs.length == 2 =>
              gidToUni.get((cs.charAt(0) << 8) | cs.charAt(1))
                .map(c => new String(Character.toChars(c))).getOrElse("")
          }.mkString
        }
    }
  }

  /** Build the decoder for one font object. Type0 (CID-keyed) fonts
    * consume 2-byte codes through the embedded /ToUnicode map when one
    * exists, else through a predefined CMap's public code space
    * ([[predefinedCMapDecoder]]), else — for Identity-H/V — through
    * the INVERTED cmap of the embedded TrueType program
    * ([[identityCmapDecoder]]); with none of those the font yields
    * nothing (raw CIDs are meaningless — emitting them would be
    * garbage). Simple fonts resolve, in order: 1-byte ToUnicode →
    * /Encoding /Differences glyph remap → base encoding (WinAnsi's
    * 0x80–0x9F block, else Latin-1).
    */
  private def fontDecoder(objs: Map[Int, PdfObj], fontObj: Int): Decoder = {
    objs.get(fontObj).map { o =>
      val toUni = raw"/ToUnicode\s+(\d+)\s+\d+\s+R".r.findFirstMatchIn(o.dict)
        .flatMap(m => objs.get(m.group(1).toInt))
        .flatMap(decodeStream)
        .map(b => parseToUnicodeCMap(latin1(b)))
      if (raw"/Subtype\s*/Type0".r.findFirstIn(o.dict).isDefined) {
        toUni match {
          case Some(cmap) =>
            (raw2: String) => raw2.grouped(2).collect {
              case cs if cs.length == 2 =>
                cmap.getOrElse((cs.charAt(0) << 8) | cs.charAt(1), "")
            }.mkString
          case None =>
            predefinedCMapDecoder(o.dict)
              .orElse(identityCmapDecoder(objs, o.dict))
              .getOrElse((_: String) => "")
        }
      } else {
        // /Encoding: a dictionary (inline or indirect) may carry
        // /BaseEncoding and a /Differences remap; a bare name only
        // selects the base.
        val encDict = raw"(?s)/Encoding\s*<<(.*?)>>".r.findFirstMatchIn(o.dict)
          .map(_.group(1))
          .orElse(raw"/Encoding\s+(\d+)\s+\d+\s+R".r.findFirstMatchIn(o.dict)
            .flatMap(m => objs.get(m.group(1).toInt)).map(_.dict))
        val diffs = encDict.map(parseDifferences).getOrElse(Map.empty)
        val winAnsi = raw"/(?:Base)?Encoding\s*/WinAnsiEncoding\b".r
          .findFirstIn(encDict.getOrElse("")).isDefined ||
          raw"/Encoding\s*/WinAnsiEncoding\b".r.findFirstIn(o.dict).isDefined
        if (toUni.isEmpty && diffs.isEmpty && !winAnsi) Latin1Decoder
        else {
          val cmap = toUni.getOrElse(Map.empty[Int, String])
          (raw1: String) => raw1.map { ch =>
            val c = ch.toInt
            cmap.get(c).orElse(diffs.get(c)).getOrElse(
              if (winAnsi && c >= 0x80 && c <= 0x9F) cp1252Hi(c - 0x80)
              else ch.toString)
          }.mkString
        }
      }
    }.getOrElse(Latin1Decoder)
  }

  /** A page font as the interpreter sees it: the string decoder plus
    * its writing mode. Vertical when /Encoding names a `*-V` predefined
    * CMap (UniGB-UCS2-V, Identity-V, ...) — the glyph advance runs down
    * the page, so layout must re-flow the block's shows into columns.
    */
  private final case class PageFont(decode: Decoder, vertical: Boolean)

  private def fontIsVertical(dict: String): Boolean =
    raw"/Encoding\s*/([\w-]+)".r.findFirstMatchIn(dict)
      .exists(_.group(1).endsWith("-V"))

  /** Resolve a page's /Resources /Font dictionary (inline or indirect,
    * falling back to any /Pages ancestor) to per-name decoders.
    */
  private def pageFontDecoders(objs: Map[Int, PdfObj], page: Int): Map[String, PageFont] = {
    def fontDict(dict: String): Option[String] =
      raw"(?s)/Font\s*<<(.*?)>>".r.findFirstMatchIn(dict).map(_.group(1))
        .orElse(raw"/Font\s+(\d+)\s+\d+\s+R".r.findFirstMatchIn(dict)
          .flatMap(m => objs.get(m.group(1).toInt)).map(_.dict))
    def resources(dict: String): Option[String] =
      fontDict(dict).orElse(
        raw"/Resources\s+(\d+)\s+\d+\s+R".r.findFirstMatchIn(dict)
          .flatMap(m => objs.get(m.group(1).toInt)).map(_.dict).flatMap(fontDict))
    val dict = objs.get(page).flatMap(o => resources(o.dict))
      .orElse(objs.values.find(_.dict.contains("/Kids")).flatMap(o => resources(o.dict)))
    dict.toSeq.flatMap { d =>
      raw"/(\w+)\s+(\d+)\s+\d+\s+R".r.findAllMatchIn(d).map { m =>
        val fontObj = m.group(2).toInt
        m.group(1) -> PageFont(
          fontDecoder(objs, fontObj),
          objs.get(fontObj).exists(o => fontIsVertical(o.dict)))
      }
    }.toMap
  }

  // ------------------------------------------- content-stream tokenizer

  private sealed trait Tok
  private final case class TNum(v: Double) extends Tok
  private final case class TStr(s: String) extends Tok
  private final case class TOp(s: String) extends Tok

  /** Minimal tokenizer for text extraction: literal strings (with the
    * full escape set), hex strings, numbers, operators; names/dicts
    * reduce to operators we ignore; inline-image payloads (BI..EI) are
    * skipped wholesale.
    */
  private def tokenize(s: String): Iterator[Tok] = new Iterator[Tok] {
    private var i = 0
    private var nextTok: Tok = null
    private def ws(c: Char) = c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
    private def delim(c: Char) = "()<>[]{}/%".indexOf(c) >= 0

    private def literal(): Tok = { // at '(' — nesting + escapes
      val sb = new StringBuilder
      var depth = 1
      i += 1
      while (i < s.length && depth > 0) {
        s.charAt(i) match {
          case '\\' if i + 1 < s.length =>
            s.charAt(i + 1) match {
              case 'n' => sb += '\n'; i += 2
              case 'r' => sb += '\r'; i += 2
              case 't' => sb += '\t'; i += 2
              case 'b' => sb += '\b'; i += 2
              case 'f' => sb += '\f'; i += 2
              case '\n' => i += 2 // line continuation
              case '\r' => i += (if (i + 2 < s.length && s.charAt(i + 2) == '\n') 3 else 2)
              case d if d >= '0' && d <= '7' => // up to 3 octal digits
                var j = i + 1; var v = 0
                while (j < s.length && j < i + 4 && s.charAt(j) >= '0' && s.charAt(j) <= '7') {
                  v = v * 8 + (s.charAt(j) - '0'); j += 1
                }
                sb += v.toChar; i = j
              case c => sb += c; i += 2 // \( \) \\ and unknown escapes
            }
          case '(' => depth += 1; sb += '('; i += 1
          case ')' => depth -= 1; if (depth > 0) sb += ')'; i += 1
          case c => sb += c; i += 1
        }
      }
      TStr(sb.toString)
    }

    private def hexString(): Tok = { // at '<' (not '<<')
      val e = s.indexOf('>', i + 1)
      val hex = s.substring(i + 1, if (e < 0) s.length else e).filterNot(ws)
      i = if (e < 0) s.length else e + 1
      val padded = if (hex.length % 2 == 1) hex + "0" else hex
      TStr(padded.grouped(2).map(h => Integer.parseInt(h, 16).toChar).mkString)
    }

    private def advance(): Tok = {
      while (i < s.length && ws(s.charAt(i))) i += 1
      if (i >= s.length) null
      else s.charAt(i) match {
        case '%' => // comment to EOL
          while (i < s.length && s.charAt(i) != '\n') i += 1
          advance()
        case '(' => literal()
        case '<' if i + 1 < s.length && s.charAt(i + 1) == '<' => i += 2; TOp("<<")
        case '<' => hexString()
        case '>' if i + 1 < s.length && s.charAt(i + 1) == '>' => i += 2; TOp(">>")
        case '[' => i += 1; TOp("[")
        case ']' => i += 1; TOp("]")
        case '/' => // name: consume, surface as ignorable op
          val st = i; i += 1
          while (i < s.length && !ws(s.charAt(i)) && !delim(s.charAt(i))) i += 1
          TOp(s.substring(st, i))
        case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
          val st = i; i += 1
          while (i < s.length && (s.charAt(i) == '.' || s.charAt(i) == '-' ||
            (s.charAt(i) >= '0' && s.charAt(i) <= '9'))) i += 1
          try TNum(s.substring(st, i).toDouble) catch { case _: Exception => TOp(s.substring(st, i)) }
        case _ =>
          val st = i
          while (i < s.length && !ws(s.charAt(i)) && !delim(s.charAt(i))) i += 1
          if (i == st) { i += 1; TOp(s.substring(st, i)) } else TOp(s.substring(st, i))
      }
    }

    override def hasNext: Boolean = {
      if (nextTok == null) nextTok = advance()
      nextTok != null
    }
    override def next(): Tok = {
      val t = { if (nextTok == null) nextTok = advance(); nextTok }
      nextTok = null
      t
    }
  }

  // --------------------------------------------- text-state interpreter

  /** One text-show: baseline position (PDF space) + font size + the
    * shown text + whether the active font writes vertically (a
    * predefined `*-V` CMap — columns, not rows).
    */
  private final case class Show(x: Double, y: Double, size: Double,
                                text: String, vertical: Boolean)

  /** Interpret a page's content stream: BT..ET sections become blocks of
    * shows. Td, TD, Tm, T-star and TL move the baseline (both
    * coordinates are kept: y segments horizontal layout into lines, x
    * re-flows vertical-writing blocks into columns); Tj, TJ, quote and
    * double-quote show text. `Tf` additionally switches the active
    * font's string decoder (Latin-1 for simple fonts, 2-byte ToUnicode
    * for Type0/CID) — strings decode at show time, so a block can mix
    * fonts span by span exactly as CJK course PDFs do.
    */
  private def interpret(content: String,
                        fonts: Map[String, PageFont] = Map.empty): Seq[Seq[Show]] = {
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Seq[Show]]
    var cur: scala.collection.mutable.ArrayBuffer[Show] = null
    val stack = scala.collection.mutable.ArrayBuffer.empty[Tok] // operand stack
    var x = 0.0; var y = 0.0; var size = 12.0; var leading = 0.0
    var inText = false; var inlineImage = false
    var lastName = "" // most recent /Name operand (Tf's font selector)
    var decoder: Decoder = Latin1Decoder
    var vertical = false
    def num(k: Int): Double = { // k-th operand from the top (0 = top)
      val nums = stack.reverseIterator.collect { case TNum(v) => v }.toSeq
      if (nums.length > k) nums(k) else 0.0
    }
    def shows(): Seq[String] = stack.collect { case TStr(t) => decoder(t) }.toSeq
    // ONE show per operator: TJ's kerned segments are parts of the same
    // span — joining them with spaces would corrupt words
    def show(): Unit = if (inText && cur != null) {
      val t = shows().mkString("")
      if (t.nonEmpty) cur += Show(x, y, size, t, vertical)
    }
    tokenize(content).foreach {
      case TOp("BI") => inlineImage = true; stack.clear()
      case TOp("EI") => inlineImage = false; stack.clear()
      case _ if inlineImage => ()
      case TOp("BT") =>
        inText = true; x = 0.0; y = 0.0; leading = 0.0
        cur = scala.collection.mutable.ArrayBuffer.empty[Show]; stack.clear()
      case TOp("ET") =>
        if (cur != null && cur.nonEmpty) blocks += cur.toSeq
        cur = null; inText = false; stack.clear()
      case TOp("Tf") =>
        size = num(0)
        val f = fonts.getOrElse(lastName, PageFont(Latin1Decoder, vertical = false))
        decoder = f.decode; vertical = f.vertical
        stack.clear()
      case TOp("TL") => leading = num(0); stack.clear()
      case TOp("Td") => x += num(1); y += num(0); stack.clear() // operands tx ty → ty on top
      case TOp("TD") => leading = -num(0); x += num(1); y += num(0); stack.clear()
      case TOp("Tm") => x = num(1); y = num(0); stack.clear() // a b c d e f → f on top
      case TOp("T*") => y -= leading; stack.clear()
      case TOp("Tj") => show(); stack.clear()
      case TOp("TJ") => show(); stack.clear() // array strings in reading order
      case TOp("'") => y -= leading; show(); stack.clear()
      case TOp("\"") => y -= leading; show(); stack.clear()
      case TOp("[") | TOp("]") => () // TJ arrays flatten onto the stack
      case TOp(n) if n.startsWith("/") => lastName = n.substring(1); stack.clear()
      case op @ TOp(_) => stack.clear(); val _ = op // other operators: drop operands
      case t => stack += t
    }
    if (cur != null && cur.nonEmpty) blocks += cur.toSeq // unterminated BT
    blocks.toSeq
  }

  // ------------------------------------------------------- public layer

  private val Ascent = 0.8
  private val Descent = 0.2

  /** Per-page layout lines in the Segmenter's model: block-constant
    * top-down y0, per-line bottom y1, block type 0 (text), block id in
    * reading order — exactly the tree shape the reference walks.
    */
  def extractPageLines(bytes: Array[Byte]): Seq[Seq[Line]] = {
    val objs = scanObjects(bytes)
    pageOrder(objs).map { p =>
      val h = pageHeight(objs, p)
      interpret(pageContent(objs, p), pageFontDecoders(objs, p))
        .zipWithIndex.flatMap { case (blockShows, blockId) =>
        if (blockShows.nonEmpty && blockShows.forall(_.vertical)) {
          // vertical-writing block (`*-V` CMap): shows advance DOWN the
          // page in columns read right-to-left. Re-flow by position —
          // group shows into columns by x, order columns by descending
          // x (rightmost first) and glyph runs within a column by
          // descending y (top first, PDF y points up) — so the emitted
          // "lines" are the columns in reading order regardless of the
          // order the writer painted them. Runs in one column
          // concatenate without separators (CJK has no inter-glyph
          // spaces; the " " span-join quirk below is a horizontal-text
          // behavior).
          val cols = scala.collection.mutable.ArrayBuffer
            .empty[(Double, scala.collection.mutable.ArrayBuffer[Show])]
          blockShows.foreach { sh =>
            cols.find { case (cx, _) => math.abs(cx - sh.x) < 0.5 } match {
              case Some((_, buf)) => buf += sh
              case None =>
                cols += ((sh.x, scala.collection.mutable.ArrayBuffer(sh)))
            }
          }
          val ordered = cols.sortBy { case (cx, _) => -cx }.map { case (_, buf) =>
            val runs = buf.sortBy(s => -s.y)
            (runs.head.y, runs.last.y, runs.head.size,
              runs.map(_.text).mkString(""))
          }
          val blockY0 = ordered.headOption
            .map { case (top, _, sz, _) => (h - top) - Ascent * sz }.getOrElse(0.0)
          ordered.map { case (_, bottom, sz, text) =>
            Line(text, blockY0, (h - bottom) + Descent * sz, blockType = 0, blockId = blockId)
          }.toSeq
        } else {
          // group same-baseline shows into lines (spans join with " " —
          // the reference's span-concatenation quirk, pdf_extractor.py:92-94)
          val lines = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, StringBuilder)]
          blockShows.foreach { sh =>
            lines.lastOption match {
              case Some((ly, _, sb)) if math.abs(ly - sh.y) < 0.5 =>
                sb.append(" ").append(sh.text)
              case _ =>
                lines += ((sh.y, sh.size, new StringBuilder(sh.text)))
            }
          }
          val blockY0 = lines.headOption.map { case (ly, sz, _) => (h - ly) - Ascent * sz }.getOrElse(0.0)
          lines.map { case (ly, sz, sb) =>
            Line(sb.toString, blockY0, (h - ly) + Descent * sz, blockType = 0, blockId = blockId)
          }.toSeq
        }
      }
    }
  }

  /** Page count (document-order pages). */
  def pageCount(bytes: Array[Byte]): Int = pageOrder(scanObjects(bytes)).size

  /** E1+E3 over real bytes: per-page paragraphs through the SAME layout
    * fold the gate checks on fixtures.
    */
  def extractPageParagraphs(bytes: Array[Byte]): Seq[Seq[String]] =
    extractPageLines(bytes).map(Segmenter.segmentLayout)

  /** The reference's whole extraction pipeline over a directory of real
    * PDFs (`extract_text_with_metadata`, pdf_extractor.py:15-57):
    * S1 scan → S2 extract → E1/E3 segment, as one distributed flatMap
    * emitting a row per paragraph (numbered before E5 drops any), then
    * E4 clean → E5 min-length → C1 chunk → C2 metadata through
    * [[Chunker.chunk]]. Output columns are exactly the flattened chunk
    * schema the CSV sink writes.
    */
  def extractChunks(spark: SparkSession, pdfDir: String): DataFrame = {
    import spark.implicits._
    val paragraphs = ChunkStore.scanPdfDir(spark, pdfDir)
      .select("file_name", "content").as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        val pages = extractPageParagraphs(bytes)
        for {
          (paras, pi) <- pages.zipWithIndex
          (para, pn) <- paras.zipWithIndex
        } yield (para, name, pi + 1, pn + 1, pages.size)
      }
      .toDF("text", "source", "page_number", "paragraph_number", "total_pages")
    Chunker.chunk(paragraphs, "source", "page_number", "paragraph_number", "total_pages")
      .selectExpr("chunk_text AS text", "source", "page_number", "paragraph_number",
        "total_pages", "chunk_number")
  }
}

/** PDF standard-security-handler decryption (PDF 32000 §7.6.3) for the
  * empty-user-password population — the common "protected courseware"
  * case PyMuPDF opens transparently
  * (`/root/reference/src/pdf_extractor.py:8-13` via fitz): the file is
  * encrypted, but the user password is empty, so a reader can derive
  * the key from the /Encrypt dictionary alone. Covers RC4 40–128 bit
  * (V 1/2, R 2/3), AES-128-CBC (V 4 /StdCF /AESV2, R 4), and the
  * PDF 2.0 AES-256 handlers (V 5 /AESV3, R 5/R 6 with the iterated
  * SHA-2 key schedule) — the ciphers real-world standard-handler
  * files use.
  *
  * Scope notes: a NON-empty user password fails the /U check and the
  * file degrades to no text (the tolerant-extractor contract — no
  * password-guessing here). Strings inside object dictionaries (e.g.
  * /Title) are not decrypted: text extraction reads only streams
  * (page content, ToUnicode CMaps, ObjStm tables), each of which is
  * decrypted whole before its /Filter chain runs. Cross-reference
  * streams and the /Encrypt dictionary itself are never encrypted
  * (§7.5.8.2) and are skipped.
  */
private[sources] object PdfCrypt {

  /** §7.6.3.3 Algorithm 2's 32-byte password padding constant. */
  private[sources] val Pad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  private[sources] def md5(parts: Array[Byte]*): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(md.update)
    md.digest()
  }

  /** Plain RC4 (symmetric: encrypt = decrypt). */
  private[sources] def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val st = Array.tabulate(256)(identity)
    var j = 0
    for (i <- 0 until 256) {
      j = (j + st(i) + (key(i % key.length) & 0xFF)) & 0xFF
      val t = st(i); st(i) = st(j); st(j) = t
    }
    val out = new Array[Byte](data.length)
    var a = 0; var b = 0
    for (k <- data.indices) {
      a = (a + 1) & 0xFF
      b = (b + st(a)) & 0xFF
      val t = st(a); st(a) = st(b); st(b) = t
      out(k) = (data(k) ^ st((st(a) + st(b)) & 0xFF)).toByte
    }
    out
  }

  /** AES-128-CBC through the JDK provider; NoPadding so the PKCS#7 pad
    * is handled by the caller (decrypt strips it tolerantly — a broken
    * pad byte yields the unpadded data rather than an exception).
    */
  private[sources] def aesCbc(key: Array[Byte], iv: Array[Byte],
                              data: Array[Byte], encrypt: Boolean): Array[Byte] = {
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(if (encrypt) javax.crypto.Cipher.ENCRYPT_MODE else javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    c.doFinal(data)
  }

  /** §7.6.2 Algorithm 1: object `num`/`gen`'s key = MD5(file key ∥
    * objnum LE24 ∥ gennum LE16 [∥ "sAlT" for AES]), truncated to
    * min(keyLen + 5, 16). The reader decrypts and the fixture writer
    * seals with it.
    */
  private[sources] def objectKey(key: Array[Byte], num: Int, gen: Int,
                                 aes: Boolean): Array[Byte] = {
    val ext = Array[Byte](
      (num & 0xFF).toByte, ((num >> 8) & 0xFF).toByte, ((num >> 16) & 0xFF).toByte,
      (gen & 0xFF).toByte, ((gen >> 8) & 0xFF).toByte)
    val salt = if (aes) Array[Byte](0x73, 0x41, 0x6C, 0x54) else Array.empty[Byte]
    md5(key, ext, salt).take(math.min(key.length + 5, 16))
  }

  /** One opened file's decryption state. `encNum` is the /Encrypt
    * dictionary's own object number (its strings are plaintext, §7.6.2).
    * `v5`: the AES-256 handlers (R5/R6) use the FILE key directly for
    * every object — no per-object derivation (ISO 32000-2 §7.6.3.3).
    */
  private[sources] final case class Decryptor(key: Array[Byte], aes: Boolean, encNum: Int,
                                              v5: Boolean = false) {
    /** The [[objectKey]], then RC4, or AES-CBC with the stream's first
      * 16 bytes as IV. V5 skips the derivation and feeds the 32-byte
      * file key straight to AES-CBC.
      */
    def decrypt(num: Int, gen: Int, data: Array[Byte]): Array[Byte] = {
      val objKey = if (v5) key else objectKey(key, num, gen, aes)
      if (!aes) rc4(objKey, data)
      else if (data.length < 32 || data.length % 16 != 0) Array.empty[Byte]
      else {
        val plain = aesCbc(objKey, data.take(16), data.drop(16), encrypt = false)
        val pad = if (plain.isEmpty) 0 else plain.last & 0xFF
        if (pad >= 1 && pad <= 16 && pad <= plain.length) plain.dropRight(pad) else plain
      }
    }
  }

  /** Decrypt every stream in the object map (xref streams and the
    * /Encrypt dictionary excluded); identity when no decryptor.
    */
  private[sources] def applyTo(dec: Option[Decryptor],
                               objs: Map[Int, PdfText.PdfObj]): Map[Int, PdfText.PdfObj] =
    dec match {
      case None => objs
      case Some(d) => objs.map { case (n, o) =>
        if (o.stream.isEmpty || n == d.encNum ||
            raw"/Type\s*/XRef".r.findFirstIn(o.dict).isDefined) (n, o)
        else (n, o.copy(stream = o.stream.map(data =>
          try d.decrypt(n, o.gen, data) catch { case _: Exception => data })))
      }
    }

  /** Build a decryptor for the file when (a) a trailer /Encrypt
    * reference resolves, (b) the handler/cipher is supported, and
    * (c) the EMPTY user password passes the /U check. Any other state
    * returns None and the file flows through untouched.
    */
  private[sources] def decryptorFor(s: String,
                                    objs: Map[Int, PdfText.PdfObj]): Option[Decryptor] = try {
    raw"/Encrypt\s+(\d+)\s+\d+\s+R".r.findAllMatchIn(s).toSeq.lastOption.flatMap { m =>
      val encNum = m.group(1).toInt
      objs.get(encNum).flatMap { enc =>
        val d = enc.dict
        // Top-level lookups must not see the /CF crypt-filter
        // subdictionary: it carries its own /Length (in BYTES — e.g.
        // /CF << /StdCF << /Length 16 >> >>) which, matched first,
        // would masquerade as the file-level key length (in bits) and
        // derive a wrong key that silently fails the /U check. Strip
        // the balanced /CF << ... >> for scalar lookups; V4 takes its
        // key length from the StdCF byte count explicitly.
        val dTop = stripCfDict(d)
        def intOf(k: String): Option[Int] =
          raw"/$k\s+(-?\d+)".r.findFirstMatchIn(dTop).map(_.group(1).toInt)
        if (raw"/Filter\s*/Standard\b".r.findFirstIn(d).isEmpty) None
        else {
          val v = intOf("V").getOrElse(0)
          val r = intOf("R").getOrElse(if (v == 5) 6 else if (v >= 2) 3 else 2)
          if (v == 5) decryptorV5(d, r, encNum)
          else {
            val aes = raw"/CFM\s*/AESV2\b".r.findFirstIn(d).isDefined
            val supported = v == 1 || v == 2 ||
              (v == 4 && (aes || raw"/CFM\s*/V2\b".r.findFirstIn(d).isDefined))
            // /StdCF /Length is bytes per §7.6.5; tolerate writers that
            // emit bits there (> 40 cannot be a byte count for RC4/AES)
            val stdCfLen = raw"(?s)/StdCF\s*<<(.*?)>>".r.findFirstMatchIn(d)
              .flatMap(m => raw"/Length\s+(\d+)".r.findFirstMatchIn(m.group(1))
                .map(_.group(1).toInt))
              .map(n => if (n > 40) n / 8 else n)
            val keyLen =
              if (v == 1 || r == 2) 5
              else if (v == 4 && stdCfLen.isDefined)
                math.max(5, math.min(16, stdCfLen.get))
              else math.max(5, math.min(16, intOf("Length").getOrElse(40) / 8))
            (pdfStringValue(d, "O"), pdfStringValue(d, "U"), intOf("P")) match {
              case (Some(o), Some(u), Some(p)) if supported && o.length >= 32 && u.length >= 16 =>
                val id0 = firstFileId(s).getOrElse(Array.empty[Byte])
                val encMeta = raw"/EncryptMetadata\s+false\b".r.findFirstIn(d).isEmpty
                val key = fileKey(o, p, id0, r, keyLen, encMeta)
                val uOk =
                  if (r == 2) java.util.Arrays.equals(computeU(key, r, id0), u.take(32))
                  else java.util.Arrays.equals(computeU(key, r, id0).take(16), u.take(16))
                if (uOk) Some(Decryptor(key, aes, encNum)) else None
              case _ => None
            }
          }
        }
      }
    }
  } catch { case _: Exception => None }

  /** Remove the balanced `/CF << ... >>` subdictionary so top-level
    * scalar lookups (/Length, /V, /R, /P) never match keys that belong
    * to a crypt filter.
    */
  private def stripCfDict(dict: String): String =
    raw"/CF\s*<<".r.findFirstMatchIn(dict) match {
      case None => dict
      case Some(m) =>
        var depth = 1
        var k = m.end
        while (k < dict.length && depth > 0) {
          if (dict.startsWith("<<", k)) { depth += 1; k += 2 }
          else if (dict.startsWith(">>", k)) { depth -= 1; k += 2 }
          else k += 1
        }
        dict.substring(0, m.start) + dict.substring(k)
    }

  /** AES-256 standard handler (ISO 32000-2 §7.6.4, V5 R5/R6) with an
    * empty password: /O and /U are 48 bytes (32 hash ∥ 8 validation
    * salt ∥ 8 key salt); the empty USER password validates when
    * hash2b("", U[32:40], "") == U[0:32] and the file key is the
    * AES-256-CBC(zero IV) decryption of /UE under
    * hash2b("", U[40:48], ""). The empty OWNER password path (hashes
    * additionally bind the full 48-byte /U) is tried second — PyMuPDF
    * opens either. /CFM must be /AESV3; /Perms is not validated (it
    * authenticates P, not the key — the key proves itself on the first
    * stream).
    */
  private def decryptorV5(d: String, r: Int, encNum: Int): Option[Decryptor] = {
    if (r != 5 && r != 6) return None
    if (raw"/CFM\s*/AESV3\b".r.findFirstIn(d).isEmpty) return None
    (pdfStringValue(d, "O"), pdfStringValue(d, "U"),
     pdfStringValue(d, "OE"), pdfStringValue(d, "UE")) match {
      case (Some(o), Some(u), Some(oe), Some(ue))
          if o.length >= 48 && u.length >= 48 && oe.length >= 32 && ue.length >= 32 =>
        val pw = Array.empty[Byte]
        def unwrap(intermediate: Array[Byte], wrapped: Array[Byte]): Array[Byte] =
          aesCbc(intermediate, new Array[Byte](16), wrapped.take(32), encrypt = false)
        val user =
          if (java.util.Arrays.equals(hash2b(pw, u.slice(32, 40), Array.empty, r), u.take(32)))
            Some(unwrap(hash2b(pw, u.slice(40, 48), Array.empty, r), ue))
          else None
        val key = user.orElse {
          if (java.util.Arrays.equals(hash2b(pw, o.slice(32, 40), u.take(48), r), o.take(32)))
            Some(unwrap(hash2b(pw, o.slice(40, 48), u.take(48), r), oe))
          else None
        }
        key.map(k => Decryptor(k, aes = true, encNum, v5 = true))
      case _ => None
    }
  }

  /** The R5/R6 password hash: R5 is a single SHA-256(pw ∥ salt ∥
    * udata); R6 is §7.6.4.3.4 Algorithm 2.B — iterate (≥64 rounds):
    * K1 = (pw ∥ K ∥ udata) × 64, E = AES-128-CBC-enc(K[0:16],
    * iv = K[16:32], K1), K = SHA-{256,384,512}(E) selected by
    * (ΣE[0:16]) mod 3, stopping once round ≥ 64 and E.last ≤
    * round − 32.
    */
  private[sources] def hash2b(pw: Array[Byte], salt: Array[Byte],
                              udata: Array[Byte], r: Int): Array[Byte] = {
    def sha(n: Int, parts: Array[Byte]*): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance(s"SHA-$n")
      parts.foreach(md.update)
      md.digest()
    }
    var k = sha(256, pw, salt, udata)
    if (r == 5) return k
    var round = 0
    var lastE = 0
    var done = false
    while (!done) {
      val block = pw ++ k ++ udata
      val k1 = new Array[Byte](block.length * 64)
      for (i <- 0 until 64) System.arraycopy(block, 0, k1, i * block.length, block.length)
      val e = aesCbc(k.take(16), k.slice(16, 32), k1, encrypt = true)
      val mod = e.take(16).map(_ & 0xFF).sum % 3
      k = sha(if (mod == 0) 256 else if (mod == 1) 384 else 512, e)
      lastE = e.last & 0xFF
      round += 1
      done = round >= 64 && lastE <= round - 32
    }
    k.take(32)
  }

  /** §7.6.3.3 Algorithm 2 with the empty user password: MD5(Pad ∥ O ∥
    * P-as-signed-LE32 ∥ ID₀ [∥ FFFFFFFF when R≥4 ∧ ¬EncryptMetadata]),
    * then (R≥3) 50 rounds of MD5 over the first keyLen bytes.
    */
  private[sources] def fileKey(o: Array[Byte], p: Int, id0: Array[Byte],
                               r: Int, keyLen: Int, encMeta: Boolean): Array[Byte] = {
    val pb = Array[Byte](
      (p & 0xFF).toByte, ((p >>> 8) & 0xFF).toByte,
      ((p >>> 16) & 0xFF).toByte, ((p >>> 24) & 0xFF).toByte)
    val extra = if (r >= 4 && !encMeta) Array[Byte](-1, -1, -1, -1) else Array.empty[Byte]
    var h = md5(Pad, o.take(32), pb, id0, extra)
    if (r >= 3) for (_ <- 0 until 50) h = md5(h.take(keyLen))
    h.take(keyLen)
  }

  /** §7.6.3.4 Algorithms 4 (R2) / 5 (R≥3): the /U value the empty user
    * password should produce — the password check.
    */
  private[sources] def computeU(key: Array[Byte], r: Int, id0: Array[Byte]): Array[Byte] =
    if (r == 2) rc4(key, Pad)
    else {
      var e = rc4(key, md5(Pad, id0))
      for (i <- 1 to 19) e = rc4(key.map(b => (b ^ i).toByte), e)
      e
    }

  /** First element of the trailer /ID array (hex or literal form). */
  private[sources] def firstFileId(s: String): Option[Array[Byte]] =
    raw"/ID\s*\[".r.findAllMatchIn(s).toSeq.lastOption.flatMap { m =>
      pdfStringAt(s, m.end).map(_._1)
    }

  /** The string VALUE of `/key` in a dictionary (literal or hex form);
    * the regex requires the delimiter right after the name so /O never
    * matches /OpenAction.
    */
  private[sources] def pdfStringValue(dict: String, key: String): Option[Array[Byte]] =
    raw"/$key\s*(?=[(<])".r.findFirstMatchIn(dict)
      .flatMap(m => pdfStringAt(dict, m.end).map(_._1))

  /** Parse a PDF string object starting at `i` (skipping leading
    * whitespace): `(...)` literal with the full escape set (octal,
    * specials, line continuation, balanced nesting) or `<...>` hex.
    * Returns (bytes, index after the string).
    */
  private[sources] def pdfStringAt(s: String, start: Int): Option[(Array[Byte], Int)] = {
    var i = start
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    if (i >= s.length) return None
    s.charAt(i) match {
      case '(' =>
        val out = new java.io.ByteArrayOutputStream()
        var depth = 1; i += 1
        while (i < s.length && depth > 0) {
          s.charAt(i) match {
            case '\\' if i + 1 < s.length =>
              s.charAt(i + 1) match {
                case 'n' => out.write('\n'); i += 2
                case 'r' => out.write('\r'); i += 2
                case 't' => out.write('\t'); i += 2
                case 'b' => out.write('\b'); i += 2
                case 'f' => out.write('\f'); i += 2
                case '\n' => i += 2 // line continuation
                case '\r' => i += 2; if (i < s.length && s.charAt(i) == '\n') i += 1
                case c if c >= '0' && c <= '7' =>
                  var v = 0; var k = 0; i += 1
                  while (k < 3 && i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '7') {
                    v = v * 8 + (s.charAt(i) - '0'); i += 1; k += 1
                  }
                  out.write(v & 0xFF)
                case c => out.write(c & 0xFF); i += 2
              }
            case '(' => depth += 1; out.write('('); i += 1
            case ')' =>
              depth -= 1
              if (depth > 0) out.write(')')
              i += 1
            case c => out.write(c & 0xFF); i += 1
          }
        }
        Some((out.toByteArray, i))
      case '<' =>
        val end = s.indexOf('>', i + 1)
        if (end < 0) None
        else {
          val hex = s.substring(i + 1, end).filterNot(_.isWhitespace)
          val padded = if (hex.length % 2 == 1) hex + "0" else hex
          val bytes = padded.grouped(2)
            .map(h => java.lang.Integer.parseInt(h, 16).toByte).toArray
          Some((bytes, end + 1))
        }
      case _ => None
    }
  }
}

/** Deterministic minimal-but-valid PDF fixtures for PdfTextSpec and the
  * s2_pdf_pipeline gate query: catalog, page tree, xref and trailer,
  * content streams optionally filtered or encrypted. Every file is
  * written through one serializer, [[PdfWriter]]; each builder declares
  * only what makes its fixture distinct. A writer this small is NOT the
  * product sink — it exists so the extractor is tested against real
  * on-disk PDF bytes instead of pre-parsed fixtures.
  */
private[graft] object PdfFixtures {

  private val L1 = java.nio.charset.StandardCharsets.ISO_8859_1

  private def bytes(s: String): Array[Byte] = s.getBytes(L1)

  private[graft] def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** The stream-dictionary entries after /Length of a Flate'd stream. */
  private val Flate = " /Filter /FlateDecode"

  private val Helvetica = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"

  /** Catalog 1, page tree 2 and pages 3 until 3 + n; page i shows
    * content object 3 + n + i with the font resources `fonts`.
    */
  private def pageTree(n: Int = 1, fonts: String = "/F1 5 0 R"): Seq[(Int, String)] =
    Seq(1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> (s"<< /Type /Pages /Kids [${(3 until 3 + n).map(p => s"$p 0 R").mkString(" ")}] " +
        s"/Count $n /MediaBox [0 0 612 792] >>")) ++
      (0 until n).map(i => (3 + i) -> (s"<< /Type /Page /Parent 2 0 R /Contents ${3 + n + i} 0 R " +
        s"/Resources << /Font << $fonts >> >> >>"))

  /** A content stream showing the PDF string `operand` at the top left in /F1 12pt. */
  private def showPage(operand: String): String = s"BT /F1 12 Tf 72 720 Td $operand Tj ET\n"

  /** [[showPage]] of `paragraph` as a literal string (backslashes,
    * parentheses and line breaks escaped, so the reader gets every
    * character back as written).
    */
  private[graft] def textPage(paragraph: String): String =
    showPage("(" + paragraph.flatMap {
      case c @ ('\\' | '(' | ')') => s"\\$c"
      case '\r' => "\\r"
      case '\n' => "\\n"
      case c => c.toString
    } + ")")

  /** A PDF hex string of 2-byte character codes. */
  private def hexCodes(codes: Seq[Int]): String = codes.map(c => f"$c%04X").mkString("<", "", ">")

  /** A PDF hex string of raw bytes. */
  private def hexBytes(b: Array[Byte]): String = b.map(x => f"${x & 0xFF}%02X").mkString("<", "", ">")

  /** `n` deterministic bytes `i * mul + add` — the fixtures' IDs, IVs, salts and keys. */
  private def ramp(n: Int, mul: Int, add: Int): Array[Byte] =
    Array.tabulate[Byte](n)(i => ((i * mul + add) & 0xFF).toByte)

  /** AES-CBC with PKCS#7 padding, the IV prepended (§7.6.2). */
  private def aesSeal(key: Array[Byte], iv: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val padN = 16 - data.length % 16
    iv ++ PdfCrypt.aesCbc(key, iv, data ++ Array.fill[Byte](padN)(padN.toByte), encrypt = true)
  }

  /** The fixtures' one PDF serializer: the `%PDF-version` header,
    * numbered objects (offsets and generations recorded), stream and
    * ObjStm objects, then one of two finishers — a classic xref table
    * plus trailer, or an xref stream. Object order, generations, the
    * entries a classic table lists and the trailer's extra entries are
    * the caller's, so the deliberately adversarial layouts stay
    * expressible; /Size is one past the highest object number written
    * or packed.
    */
  private final class PdfWriter(version: String) {
    private val out = new java.io.ByteArrayOutputStream()
    private val at = scala.collection.mutable.Map.empty[Int, (Int, Int)] // num -> (offset, gen)
    private val packed = scala.collection.mutable.Map.empty[Int, (Int, Int)] // num -> (ObjStm, index)
    out.write(bytes(s"%PDF-$version\n"))

    private def size: Int = (at.keySet ++ packed.keySet).max + 1

    def obj(num: Int, body: String, gen: Int = 0): Unit = {
      at(num) = (out.size(), gen)
      out.write(bytes(s"$num $gen obj\n$body\nendobj\n"))
    }

    /** A stream object; `dict` gets the payload length and returns the dictionary's entries. */
    def stream(num: Int, data: Array[Byte], gen: Int = 0)(dict: Int => String): Unit =
      obj(num, s"<< ${dict(data.length)} >>\nstream\n${new String(data, L1)}\nendstream", gen)

    /** [[pageTree]] as plain objects, then one content stream per page
      * (`filter`: its dictionary entries after /Length).
      */
    def pages(contents: Seq[Array[Byte]], filter: String = "", fonts: String = "/F1 5 0 R",
              gen: Int = 0): Unit = {
      pageTree(contents.size, fonts).foreach { case (n, body) => obj(n, body) }
      contents.zipWithIndex.foreach { case (data, i) =>
        stream(3 + contents.size + i, data, gen)(len => s"/Length $len$filter")
      }
    }

    /** Object stream `num` packing `bodies` (Flate'd, then `seal`ed with the stream's number). */
    def objStm(num: Int, bodies: Seq[(Int, String)],
               seal: (Int, Array[Byte]) => Array[Byte] = (_, data) => data): Unit = {
      val offs = bodies.map(_._2.length + 1).scanLeft(0)(_ + _)
      val header = bodies.zip(offs).map { case ((n, _), off) => s"$n $off" }.mkString(" ") + "\n"
      bodies.zipWithIndex.foreach { case ((n, _), i) => packed(n) = (num, i) }
      stream(num, seal(num, deflate(bytes(header + bodies.map(_._2).mkString("\n") + "\n"))))(len =>
        s"/Type /ObjStm /N ${bodies.size} /First ${header.length} /Length $len$Flate")
    }

    /** Finish with a classic xref table and trailer (`trailer`: the
      * entries after /Root). `freeOnly` lists just the free entry 0 —
      * the table an ObjStm file's reader must not trust.
      */
    def classic(trailer: String = "", freeOnly: Boolean = false): Array[Byte] = {
      val xref = out.size()
      val listed = if (freeOnly) 1 else size
      val rows = (1 until listed).map { i => val (off, gen) = at(i); f"$off%010d $gen%05d n \n" }
      finish(xref, s"xref\n0 $listed\n0000000000 65535 f \n${rows.mkString}" +
        s"trailer\n<< /Size $size /Root 1 0 R$trailer >>\n")
    }

    /** Finish with xref stream `num` and no classic trailer (`trailer`:
      * its dictionary entries after /Root): /W [1 4 2] rows for every
      * object, free, at an offset or packed in an ObjStm.
      */
    def xrefStream(num: Int, trailer: String = ""): Array[Byte] = {
      val xref = out.size()
      at(num) = (xref, 0)
      val table = new java.io.ByteArrayOutputStream()
      (0 until size).foreach { i =>
        val (t, mid, lo) = packed.get(i).map { case (stm, k) => (2, stm, k) }
          .orElse(at.get(i).map { case (off, gen) => (1, off, gen) }).getOrElse((0, 0, 65535))
        Seq(t, mid >>> 24, mid >>> 16, mid >>> 8, mid, lo >>> 8, lo).foreach(table.write)
      }
      stream(num, table.toByteArray)(len =>
        s"/Type /XRef /Size $size /W [1 4 2] /Root 1 0 R$trailer /Length $len")
      finish(xref, "")
    }

    private def finish(xref: Int, table: String): Array[Byte] = {
      out.write(bytes(s"${table}startxref\n$xref\n%%EOF\n"))
      out.toByteArray
    }
  }

  /** Assemble a PDF from raw page content streams. */
  def buildPdf(pageStreams: Seq[String], compress: Boolean): Array[Byte] = {
    val n = pageStreams.size
    val w = new PdfWriter("1.4")
    w.pages(pageStreams.map(p => if (compress) deflate(bytes(p)) else bytes(p)),
      if (compress) Flate else "", fonts = s"/F1 ${3 + 2 * n} 0 R")
    w.obj(3 + 2 * n, Helvetica)
    w.classic()
  }

  /** Two-page fixture document exercising Td positioning, block gaps
    * above/below the 15pt paragraph threshold, TL/T* leading, TJ kerned
    * arrays, and the span-join quirk. Geometry (h = 792, 12pt font,
    * ascent 9.6 / descent 2.4):
    *   p1: blocks at y 720/706 → |gap| = 2 ≤ 15 joins; 706→660 → 34 > 15 splits.
    *   p2: one block, T* leading 14 keeps lines joined; TJ segments
    *       concatenate into one span, separate Tj's join with " ".
    */
  val fixturePages: Seq[String] = Seq(
    """BT /F1 12 Tf 72 720 Td (Introduction to distributed query engines for large corpora.) Tj ET
      |BT /F1 12 Tf 72 706 Td (This line continues the same opening paragraph cleanly.) Tj ET
      |BT /F1 12 Tf 72 660 Td (A clearly separate second paragraph follows after a gap.) Tj ET
      |""".stripMargin,
    """BT /F1 12 Tf 72 720 Td 14 TL (Second page opens with kerned) Tj [(text) -40 ( runs.)] TJ T* (And a continuation line via the leading operator arrives.) Tj ET
      |""".stripMargin)

  /** The paragraphs [[fixturePages]] must produce (per page), after the
    * layout fold — the hand-simulated goldens the spec and the gate
    * oracle both pin.
    */
  val fixtureParagraphs: Seq[Seq[String]] = Seq(
    Seq(
      "Introduction to distributed query engines for large corpora. This line continues the same opening paragraph cleanly.",
      "A clearly separate second paragraph follows after a gap."),
    Seq(
      "Second page opens with kerned text runs. And a continuation line via the leading operator arrives."))

  /** Single-page companion file (exercises the case-insensitive S1 scan
    * when written with an uppercase extension).
    */
  val companionPage: String =
    """BT /F1 12 Tf 72 720 Td (Uppercase extension file with one short paragraph inside.) Tj ET
      |""".stripMargin

  val companionParagraph: String =
    "Uppercase extension file with one short paragraph inside."

  // ------------------------------------------------------ CJK fixture
  // The reference's own corpus is CHINESE course PDFs (PyMuPDF decodes
  // them through each font's ToUnicode CMap); this fixture reproduces
  // that font shape from scratch: a Type0/Identity-H font whose CMap is
  // derived from the fixture text itself (distinct chars sorted by code
  // point, CIDs assigned sequentially), so consecutive code points (、。)
  // exercise the bfrange increment form and isolated chars the bfchar
  // form. Paragraph 1 switches fonts mid-baseline (ASCII /F1 span +
  // CJK /F2 span joining with " ") — the mixed-script line every
  // bilingual slide deck contains.

  val cjkAsciiSpan: String = "Unit 01:"
  val cjkSpan1: String = "数据工程与分布式查询引擎概论。"
  val cjkParagraph2: String = "本章介绍大规模语料的去重、检索与质量评估方法。"

  val cjkParagraphs: Seq[Seq[String]] = Seq(Seq(
    s"$cjkAsciiSpan $cjkSpan1",
    cjkParagraph2))

  /** chars shown through the CID font, CID = 1-based rank by code point */
  private val cidOf: Map[Char, Int] = (cjkSpan1 + cjkParagraph2)
    .toSeq.distinct.sorted.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap

  /** ToUnicode CMap text: maximal runs of consecutive code points emit
    * the bfrange increment form; singletons emit bfchar entries.
    */
  private def toUnicodeCMap: String = {
    val sorted = cidOf.toSeq.sortBy(_._2) // (char, cid); cids consecutive
    val runs = sorted.foldLeft(Vector.empty[Vector[(Char, Int)]]) { (acc, e) =>
      acc.lastOption match {
        case Some(run) if run.last._1 + 1 == e._1 => acc.init :+ (run :+ e)
        case _ => acc :+ Vector(e)
      }
    }
    val (ranges, chars) = runs.partition(_.length > 1)
    val bfchar = chars.flatten
      .map { case (c, i) => f"<$i%04X> <${c.toInt}%04X>" }
      .mkString("\n")
    val bfrange = ranges
      .map { r => f"<${r.head._2}%04X> <${r.last._2}%04X> <${r.head._1.toInt}%04X>" }
      .mkString("\n")
    s"""/CIDInit /ProcSet findresource begin
       |12 dict begin
       |begincmap
       |/CMapName /Adobe-Identity-UCS def
       |/CMapType 2 def
       |1 begincodespacerange
       |<0000> <FFFF>
       |endcodespacerange
       |${chars.flatten.length} beginbfchar
       |$bfchar
       |endbfchar
       |${ranges.length} beginbfrange
       |$bfrange
       |endbfrange
       |endcmap
       |end
       |end""".stripMargin
  }

  /** One-page CJK document: Type0 font + ToUnicode CMap, mixed-font
    * first paragraph, 60pt block gap splitting the second.
    */
  def buildCjkPdf(compress: Boolean): Array[Byte] = {
    def data(s: String) = if (compress) deflate(bytes(s)) else bytes(s)
    val filter = if (compress) Flate else ""
    val content =
      s"""BT /F1 12 Tf 72 720 Td ($cjkAsciiSpan) Tj /F2 12 Tf ${hexCodes(cjkSpan1.map(cidOf))} Tj ET
         |BT /F2 12 Tf 72 660 Td ${hexCodes(cjkParagraph2.map(cidOf))} Tj ET
         |""".stripMargin
    val w = new PdfWriter("1.4")
    w.pages(Seq(data(content)), filter, fonts = "/F1 5 0 R /F2 6 0 R")
    w.obj(5, Helvetica)
    w.obj(6, "<< /Type /Font /Subtype /Type0 /BaseFont /STSong-Light " +
      "/Encoding /Identity-H /DescendantFonts [7 0 R] /ToUnicode 8 0 R >>")
    w.obj(7, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /STSong-Light " +
      "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> " +
      "/CIDToGIDMap /Identity >>")
    w.stream(8, data(toUnicodeCMap))(len => s"/Length $len$filter")
    w.classic()
  }

  // ------------------------ predefined-CMap fixture (CID, no ToUnicode)

  val predefParagraph: String = "预定义字符映射表直接按统一码解码文本。"

  /** One-page Type0/CIDFontType0 document whose /Encoding names the
    * PREDEFINED UniGB-UCS2-H CMap and which embeds NO /ToUnicode — the
    * pre-2005 Chinese-authored font shape PyMuPDF reads via its bundled
    * Adobe CMap tables. UniGB-UCS2-H's code space is UCS-2, so the
    * show-string 2-byte codes below ARE the Unicode values.
    */
  def buildPredefCMapPdf(): Array[Byte] =
    predefCMapPdf(showPage(hexCodes(predefParagraph.map(_.toInt))), "UniGB-UCS2-H")

  /** One page showing `content` through a Type0 font on the predefined
    * `cmap` over an Adobe-GB1 CIDFontType0, with no /ToUnicode.
    */
  private def predefCMapPdf(content: String, cmap: String): Array[Byte] = {
    val w = new PdfWriter("1.4")
    w.pages(Seq(bytes(content)))
    w.obj(5, "<< /Type /Font /Subtype /Type0 /BaseFont /STSong-Light " +
      s"/Encoding /$cmap /DescendantFonts [6 0 R] >>")
    w.obj(6, "<< /Type /Font /Subtype /CIDFontType0 /BaseFont /STSong-Light " +
      "/CIDSystemInfo << /Registry (Adobe) /Ordering (GB1) /Supplement 2 >> >>")
    w.classic()
  }

  // --------------------- vertical-writing fixture (predefined -V CMap)

  /** Reading order for [[buildVerticalCMapPdf]]: columns right-to-left,
    * glyphs top-to-bottom — "vertical text" then "right to left".
    */
  val verticalLines: Seq[String] = Seq("竖排文字", "从右到左")

  /** One-page Type0 document on the PREDEFINED UniGB-UCS2-V CMap —
    * vertical writing mode. The content stream paints the glyphs
    * DELIBERATELY out of reading order (left column first; the right
    * column bottom-up via per-glyph Tm), so only a layout that re-flows
    * by position — columns right-to-left, runs top-to-bottom — emits
    * [[verticalLines]]; stream-order concatenation scrambles it.
    */
  def buildVerticalCMapPdf(): Array[Byte] = {
    val Seq(right, left) = verticalLines
    val paints = // (x, y, glyph) in scrambled paint order
      left.zipWithIndex.map { case (c, i) => (480, 720 - 14 * i, c) } ++
        right.zipWithIndex.map { case (c, i) => (500, 720 - 14 * i, c) }.reverse
    predefCMapPdf("BT /F1 12 Tf\n" + paints.map { case (px, py, c) =>
      s"1 0 0 1 $px $py Tm ${hexCodes(Seq(c.toInt))} Tj\n"
    }.mkString + "ET\n", "UniGB-UCS2-V")
  }

  // -------------- Identity-H + embedded TrueType cmap (no ToUnicode)

  val identityHParagraph: String = "嵌入字体的字符映射表逆向恢复文本。"

  /** Deterministic glyph ids for [[identityHParagraph]]'s distinct
    * chars: arbitrary but nonzero and non-identity, so a decoder that
    * echoes CIDs (instead of inverting the cmap) cannot pass.
    */
  private def identityHGids: Map[Char, Int] =
    identityHParagraph.distinct.zipWithIndex.map { case (c, i) => c -> (100 + 3 * i) }.toMap

  /** Minimal sfnt with ONE table — a (3,1) format-4 cmap mapping each
    * fixture char to its glyph id via single-char segments. Enough
    * structure for any spec-following cmap reader; nothing else (no
    * glyf/head) because text recovery needs only the cmap.
    */
  private[graft] def buildMinimalTtf(mapping: Seq[(Char, Int)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { bos.write((v >> 8) & 0xFF); bos.write(v & 0xFF) }
    def u32(v: Long): Unit = { u16(((v >> 16) & 0xFFFF).toInt); u16((v & 0xFFFF).toInt) }
    val sorted = mapping.sortBy(_._1)
    val segCount = sorted.length + 1 // + the required 0xFFFF terminator
    val subLen = 16 + 8 * segCount
    val cmapLen = 12 + subLen
    // sfnt offset table
    u32(0x00010000L); u16(1); u16(16); u16(0); u16(0)
    // table record: 'cmap' at offset 28
    bos.write(bytes("cmap")); u32(0); u32(28); u32(cmapLen)
    // cmap header + one (3,1) encoding record pointing at offset 12
    u16(0); u16(1); u16(3); u16(1); u32(12)
    // format 4 subtable: one segment per char + terminator
    u16(4); u16(subLen); u16(0); u16(segCount * 2)
    u16(2); u16(0); u16(0) // search fields (unused by readers)
    sorted.foreach { case (c, _) => u16(c.toInt) }; u16(0xFFFF) // endCode
    u16(0) // reservedPad
    sorted.foreach { case (c, _) => u16(c.toInt) }; u16(0xFFFF) // startCode
    sorted.foreach { case (c, g) => u16((g - c.toInt) & 0xFFFF) }; u16(1) // idDelta
    (0 until segCount).foreach(_ => u16(0)) // idRangeOffset (all direct)
    bos.toByteArray
  }

  /** One-page Type0/CIDFontType2 document on /Encoding /Identity-H
    * with NO /ToUnicode — the font-private-CID population that used to
    * stay textless. The embedded TrueType program's cmap is the only
    * route back to Unicode; the show string carries raw glyph ids, so
    * only a decoder that inverts that cmap emits
    * [[identityHParagraph]].
    */
  def buildIdentityHPdf(): Array[Byte] = {
    val gids = identityHGids
    val w = new PdfWriter("1.4")
    w.pages(Seq(bytes(showPage(hexCodes(identityHParagraph.map(gids))))))
    w.obj(5, "<< /Type /Font /Subtype /Type0 /BaseFont /Embedded-Fixture " +
      "/Encoding /Identity-H /DescendantFonts [6 0 R] >>")
    w.obj(6, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Embedded-Fixture " +
      "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> " +
      "/CIDToGIDMap /Identity /FontDescriptor 7 0 R >>")
    w.obj(7, "<< /Type /FontDescriptor /FontName /Embedded-Fixture /Flags 4 /FontFile2 8 0 R >>")
    w.stream(8, buildMinimalTtf(gids.toSeq))(len => s"/Length $len")
    w.classic()
  }

  // --------------------- /Encoding /Differences fixture (simple font)

  val diffParagraph: String =
    "Glyph name differences map café • — • codes to text."

  /** One-page simple-font document whose /Encoding dictionary remaps
    * codes 1→/bullet 2→/emdash 3→/eacute over a /WinAnsiEncoding base
    * — the symbol-remap population the Differences array exists for.
    * Byte 0x95 additionally exercises the WinAnsi high block (• in
    * CP1252, a control char in Latin-1).
    */
  def buildDifferencesPdf(): Array[Byte] = {
    val w = new PdfWriter("1.4")
    w.pages(Seq(bytes(textPage("Glyph name differences map caf\u0003 \u0001 \u0002 \u0095 codes to text."))))
    w.obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding " +
      "<< /BaseEncoding /WinAnsiEncoding /Differences [ 1 /bullet /emdash 3 /eacute ] >> >>")
    w.classic()
  }

  // ----------------------------------------------- predictor fixture

  val predictorParagraph: String =
    "Predictor coded content stream reconstructs byte for byte here."

  /** Single-page PDF whose content stream is PNG-predicted (rows cycle
    * filter types sub/up/average/Paeth/none) before FlateDecode —
    * the /DecodeParms layout modern writers emit on compressed streams.
    */
  def buildPredictorPdf(columns: Int = 32): Array[Byte] = {
    val content0 = textPage(predictorParagraph)
    val pad = (columns - content0.length % columns) % columns
    val rows = bytes(content0 + ("\n" * pad)).grouped(columns).toArray
    val enc = new java.io.ByteArrayOutputStream()
    for (r <- rows.indices) {
      val ft = Array(1, 2, 3, 4, 0)(r % 5)
      enc.write(ft)
      val cur = rows(r)
      for (i <- cur.indices) {
        val a = if (i >= 1) cur(i - 1) & 0xFF else 0
        val b = if (r > 0) rows(r - 1)(i) & 0xFF else 0
        val c = if (r > 0 && i >= 1) rows(r - 1)(i - 1) & 0xFF else 0
        val p = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 =>
            val q = a + b - c
            val (pa, pb, pc) = (math.abs(q - a), math.abs(q - b), math.abs(q - c))
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        enc.write(((cur(i) & 0xFF) - p) & 0xFF)
      }
    }
    val w = new PdfWriter("1.5")
    w.pages(Seq(deflate(enc.toByteArray)), s"$Flate /DecodeParms << /Predictor 12 /Columns $columns >>")
    w.obj(5, Helvetica)
    w.classic()
  }

  // --------------------------------------------------- ObjStm fixture

  val objStmParagraph: String =
    "Modern object stream layout parses through the packed table."

  /** Modern-writer layout: catalog, page tree, page and font dicts
    * packed into ONE compressed /Type /ObjStm; only the content stream
    * stays top-level (streams cannot nest inside an ObjStm). The
    * classic xref lists only the free entry.
    */
  def buildObjStmPdf(): Array[Byte] = {
    val w = new PdfWriter("1.5")
    w.objStm(10, pageTree() :+ (5 -> Helvetica))
    w.stream(4, bytes(textPage(objStmParagraph)))(len => s"/Length $len")
    w.classic(freeOnly = true)
  }

  val encObjStmParagraph: String =
    "Encrypted object streams decrypt before the packed table expands."

  /** RC4-128-encrypted ObjStm file: the catalog/pages/page/font dicts
    * live in a compressed object stream that is ITSELF encrypted — the
    * interaction case where decryption must run before ObjStm
    * expansion, or the packed table is ciphertext and no page exists.
    * Stored layout per object: Encrypt(Flate(payload)).
    */
  def buildEncryptedObjStmPdf(): Array[Byte] = {
    val h = new EmptyPasswordHandler("rc4-128", idMul = 11, idAdd = 2)
    val w = new PdfWriter("1.5")
    w.objStm(10, pageTree() :+ (5 -> Helvetica), h.seal(_, _))
    w.stream(4, h.seal(4, bytes(textPage(encObjStmParagraph))))(len => s"/Length $len")
    w.obj(11, h.dict)
    w.classic(h.trailer(11), freeOnly = true)
  }

  // ------------------------------------------- filter-tail fixtures
  // One paragraph per non-Flate filter, each built with a from-scratch
  // ENCODER for that filter so the extractor is tested against real
  // encoded bytes (the encoders live here, fixture-side — the product
  // only ever decodes).

  val lzwParagraph: String =
    "Lempel Ziv Welch coded content inflates through the variable width code table."

  val rleParagraph: String =
    "Run length packed content expands literal and repeated aaaaaaaaaa runs alike."

  val a85Paragraph: String =
    "Ascii armored deflate content decodes through the two stage filter chain."

  /** PDF-variant LZW encoder (EarlyChange = 1): opens with a clear
    * code, grows 9→12 bits one entry early (at table size 512/1024/
    * 2048 — the mirror of the decoder's 511/1023/2047 rule, offset by
    * the one entry the decoder always lags), ends with EOD.
    */
  def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length)
    var bitBuf = 0L
    var bits = 0
    var width = 9
    def emit(code: Int): Unit = {
      bitBuf = (bitBuf << width) | code; bits += width
      while (bits >= 8) { out.write(((bitBuf >>> (bits - 8)) & 0xFF).toInt); bits -= 8 }
    }
    val dict = scala.collection.mutable.HashMap.empty[Seq[Byte], Int]
    def reset(): Unit = { dict.clear(); (0 until 256).foreach(i => dict(Seq(i.toByte)) = i); width = 9 }
    reset()
    var next = 258
    emit(256)
    var prev = Vector.empty[Byte]
    for (b <- data) {
      val cur = prev :+ b
      if (dict.contains(cur)) prev = cur
      else {
        emit(dict(prev))
        if (next < 4096) {
          dict(cur) = next; next += 1
          if (next == 512) width = 10
          else if (next == 1024) width = 11
          else if (next == 2048) width = 12
        } else { emit(256); reset(); next = 258 }
        prev = Vector(b)
      }
    }
    if (prev.nonEmpty) emit(dict(prev))
    emit(257)
    if (bits > 0) out.write(((bitBuf << (8 - bits)) & 0xFF).toInt)
    out.toByteArray
  }

  /** RunLengthDecode encoder: repeat runs of ≥ 3 (up to 128) pack as
    * (257−n, byte); everything else accumulates into literal runs of
    * ≤ 128; 128 terminates.
    */
  def runLengthEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 8)
    var i = 0
    val lit = new java.io.ByteArrayOutputStream(128)
    def flushLit(): Unit = if (lit.size > 0) {
      out.write(lit.size - 1); lit.writeTo(out); lit.reset()
    }
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && data(i + run) == data(i) && run < 128) run += 1
      if (run >= 3) { flushLit(); out.write(257 - run); out.write(data(i)); i += run }
      else {
        lit.write(data(i)); i += 1
        if (lit.size == 128) flushLit()
      }
    }
    flushLit()
    out.write(128)
    out.toByteArray
  }

  /** ASCII85 encoder (no 'z' shortcut; trailing partial group emits
    * n+1 chars for n bytes; `~>` terminator).
    */
  def ascii85Encode(data: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder(data.length * 5 / 4 + 4)
    var i = 0
    while (i < data.length) {
      val n = math.min(4, data.length - i)
      var t = 0L
      for (k <- 0 until 4) t = (t << 8) | (if (i + k < data.length) data(i + k) & 0xFF else 0)
      val cs = new Array[Char](5)
      var v = t
      for (k <- 4 to 0 by -1) { cs(k) = ('!' + (v % 85)).toChar; v /= 85 }
      sb.appendAll(cs, 0, n + 1)
      i += 4
    }
    sb.append("~>")
    bytes(sb.toString)
  }

  /** One-page PDF whose content stream is encoded with `filters`
    * (decode-order names as they appear in /Filter) by `encode`.
    */
  def buildFilteredPdf(paragraph: String, filters: Seq[String],
                       encode: Array[Byte] => Array[Byte]): Array[Byte] = {
    val filterSpec =
      if (filters.size == 1) s"/Filter /${filters.head}"
      else s"/Filter [${filters.map("/" + _).mkString(" ")}]"
    val w = new PdfWriter("1.4")
    w.pages(Seq(encode(bytes(textPage(paragraph)))), s" $filterSpec")
    w.obj(5, Helvetica)
    w.classic()
  }

  // ---------------------------------------------- encrypted fixtures

  val rc4Paragraph: String =
    "Rivest cipher four streams decrypt under the empty user password handler."
  val aesParagraph: String =
    "Advanced encryption standard blocks chain behind a sixteen byte vector."
  val rc4FortyParagraph: String =
    "Forty bit legacy keys still open when the user password is empty."
  val aes256Paragraph: String =
    "Modern two hundred fifty six bit keys derive from iterated hashing rounds."

  /** The standard security handler with empty user AND owner passwords
    * for `mode` "rc4-40" (V1 R2), "rc4-128" (V2 R3) or "aes-128" (V4 R4
    * /AESV2), /P −44 (modify/annotate forbidden — a typical courseware
    * mask) and the fixed /ID `ramp(16, idMul, idAdd)`. The derivation
    * helpers are shared with [[PdfCrypt]] — the INDEPENDENT-implementation
    * pin (files produced by a separate Python hashlib/cryptography
    * generator) lives in PdfTextSpec, so a shared derivation bug cannot
    * self-certify.
    */
  private final class EmptyPasswordHandler(mode: String, idMul: Int, idAdd: Int) {
    import PdfCrypt.{Pad, computeU, fileKey, md5, objectKey, rc4}
    private val (v, r, keyBits, aes) = mode match {
      case "rc4-40" => (1, 2, 40, false)
      case "rc4-128" => (2, 3, 128, false)
      case "aes-128" => (4, 4, 128, true)
      case other => throw new IllegalArgumentException(other)
    }
    private val keyLen = keyBits / 8
    private val id0 = ramp(16, idMul, idAdd)
    private val o = { // Algorithm 3 with both passwords empty
      var od = md5(Pad)
      if (r >= 3) for (_ <- 0 until 50) od = md5(od)
      val oKey = od.take(keyLen)
      var o = rc4(oKey, Pad)
      if (r >= 3) for (i <- 1 to 19) o = rc4(oKey.map(b => (b ^ i).toByte), o)
      o
    }
    private val key = fileKey(o, -44, id0, r, keyLen, encMeta = true)

    /** The /Encrypt dictionary. */
    val dict: String = {
      val length = if (v >= 2) s" /Length $keyBits" else ""
      val cf = if (v == 4) " /CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF" else ""
      s"<< /Filter /Standard /V $v /R $r$length$cf /O ${hexBytes(o)} " +
        s"/U ${hexBytes(computeU(key, r, id0).padTo(32, 0: Byte))} /P -44 >>"
    }

    /** Trailer entries naming the /Encrypt dictionary object `num` and the /ID. */
    def trailer(num: Int): String = s" /Encrypt $num 0 R /ID [${hexBytes(id0)} ${hexBytes(id0)}]"

    /** Object `num`'s stream encrypted under its §7.6.2 Algorithm 1 key. */
    def seal(num: Int, data: Array[Byte], gen: Int = 0): Array[Byte] = {
      val objKey = objectKey(key, num, gen, aes)
      if (aes) aesSeal(objKey, ramp(16, 29, 11), data) else rc4(objKey, data)
    }
  }

  /** Standard-security-handler encrypted single-page file (empty user
    * AND owner passwords): `mode` "rc4-40", "rc4-128", "aes-128" (see
    * [[EmptyPasswordHandler]]) or "aes-256". Deterministic: fixed /ID
    * and AES IV. `contentGen` is the content stream's generation.
    */
  def buildEncryptedPdf(paragraph: String, mode: String,
                        compress: Boolean = true,
                        contentGen: Int = 0): Array[Byte] = {
    if (mode == "aes-256") return buildAes256Pdf(paragraph, compress)
    val h = new EmptyPasswordHandler(mode, idMul = 17, idAdd = 3)
    val content = bytes(textPage(paragraph))
    val w = new PdfWriter("1.4")
    w.pages(Seq(h.seal(4, if (compress) deflate(content) else content, contentGen)),
      if (compress) Flate else "", gen = contentGen)
    w.obj(5, Helvetica)
    w.obj(6, h.dict)
    w.classic(h.trailer(6))
  }

  /** AES-256 / R6 (ISO 32000-2) fixture with empty user AND owner
    * passwords: deterministic salts and file key, /U and /UE from the
    * user-path Algorithm 2.B hashes, /O and /OE binding the full /U,
    * /Perms the AES-ECB-wrapped P record. The content stream encrypts
    * with the FILE key directly (V5 semantics — no per-object key).
    */
  private def buildAes256Pdf(paragraph: String, compress: Boolean): Array[Byte] = {
    import PdfCrypt.{aesCbc, hash2b}
    val pw = Array.empty[Byte]
    val (vsU, ksU, vsO, ksO) = (ramp(8, 31, 7), ramp(8, 37, 7), ramp(8, 41, 7), ramp(8, 43, 7))
    val fileKey = ramp(32, 23, 5)
    val u = hash2b(pw, vsU, Array.empty, 6) ++ vsU ++ ksU
    val ue = aesCbc(hash2b(pw, ksU, Array.empty, 6), new Array[Byte](16), fileKey, encrypt = true)
    val o = hash2b(pw, vsO, u, 6) ++ vsO ++ ksO
    val oe = aesCbc(hash2b(pw, ksO, u, 6), new Array[Byte](16), fileKey, encrypt = true)
    val p = -44
    val permsPlain = Array[Byte](
      (p & 0xFF).toByte, ((p >> 8) & 0xFF).toByte, ((p >> 16) & 0xFF).toByte, ((p >> 24) & 0xFF).toByte,
      -1, -1, -1, -1, 'T', 'a', 'd', 'b', 0, 0, 0, 0)
    val ecb = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
    ecb.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(fileKey, "AES"))
    val perms = ecb.doFinal(permsPlain)
    val content = bytes(textPage(paragraph))
    val w = new PdfWriter("2.0")
    w.pages(Seq(aesSeal(fileKey, ramp(16, 19, 3), if (compress) deflate(content) else content)),
      if (compress) Flate else "")
    w.obj(5, Helvetica)
    w.obj(6, "<< /Filter /Standard /V 5 /R 6 /Length 256 " +
      "/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF /StrF /StdCF " +
      s"/O ${hexBytes(o)} /U ${hexBytes(u)} /OE ${hexBytes(oe)} /UE ${hexBytes(ue)} " +
      s"/Perms ${hexBytes(perms)} /P $p >>")
    w.classic(" /Encrypt 6 0 R")
  }

  // --------------------------------------------- xref-stream fixture

  val xrefParagraph: String =
    "Cross reference stream files keep endstream words inside string payloads safely."

  /** PDF-1.5 xref-STREAM layout, deliberately adversarial to a linear
    * scan: no classic trailer; catalog/pages/page/font dicts plus the
    * content stream's /Length INTEGER packed in an ObjStm; the content
    * stream declares `/Length 9 0 R` (indirect) and its payload
    * contains the literal word "endstream" — so only a reader that
    * walks the xref stream and resolves the indirect length recovers
    * the exact stream extent. W = [1 4 2]; type-2 entries point into
    * the ObjStm; object 8 is free.
    */
  def buildXrefStreamPdf(): Array[Byte] = {
    val content = textPage(xrefParagraph)
    val w = new PdfWriter("1.5")
    w.objStm(6, pageTree() ++ Seq(5 -> Helvetica, 9 -> content.length.toString))
    w.stream(4, bytes(content))(_ => "/Length 9 0 R")
    w.xrefStream(7)
  }

  val encXrefParagraph: String =
    "Encrypted cross reference stream files resolve indirect lengths then decrypt."

  /** RC4-128-encrypted PDF-1.5 xref-STREAM file: no classic trailer
    * (/Encrypt and /ID live in the XRef stream's dict), the catalog
    * packed in an ENCRYPTED ObjStm, and the content stream's /Length
    * held indirectly by an integer inside that ObjStm — so extraction
    * requires the xref walk, ObjStm decryption, indirect-length
    * resolution, AND the xref path's own re-decryption of the
    * re-parsed stream. The xref stream itself stays plaintext
    * (§7.5.8.2). Exercises every branch of xrefObjects + PdfCrypt
    * together.
    */
  def buildEncryptedXrefPdf(): Array[Byte] = {
    val h = new EmptyPasswordHandler("rc4-128", idMul = 13, idAdd = 6)
    val content = textPage(encXrefParagraph)
    val w = new PdfWriter("1.5")
    w.objStm(6, pageTree() ++ Seq(5 -> Helvetica, 9 -> content.length.toString), h.seal(_, _))
    w.stream(4, h.seal(4, bytes(content)))(_ => "/Length 9 0 R")
    w.obj(8, h.dict)
    w.xrefStream(7, h.trailer(8))
  }

  /** Write the fixture corpus into `dir` and return it: every file is
    * empty-user-password where encrypted, and notes.txt is a decoy the
    * S1 scan must skip.
    */
  def writeFixtureDir(dir: String): String = {
    val p = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    Seq(
      "a.pdf" -> buildPdf(fixturePages, compress = true), // two pages, Flate'd
      "B.PDF" -> buildPdf(Seq(companionPage), compress = false), // raw; upper-case extension
      "cjk.pdf" -> buildCjkPdf(compress = true), // Type0/CID + ToUnicode
      "m.pdf" -> buildObjStmPdf(),
      "lzw.pdf" -> buildFilteredPdf(lzwParagraph, Seq("LZWDecode"), lzwEncode),
      "rle.pdf" -> buildFilteredPdf(rleParagraph, Seq("RunLengthDecode"), runLengthEncode),
      "a85.pdf" -> buildFilteredPdf(a85Paragraph, Seq("ASCII85Decode", "FlateDecode"),
        b => ascii85Encode(deflate(b))),
      "xr.pdf" -> buildXrefStreamPdf(), // xref stream, indirect /Length
      "rc4.pdf" -> buildEncryptedPdf(rc4Paragraph, "rc4-128", compress = true),
      "aes.pdf" -> buildEncryptedPdf(aesParagraph, "aes-128", compress = false),
      "aes256.pdf" -> buildEncryptedPdf(aes256Paragraph, "aes-256"), // PDF 2.0, R6
      "m_enc.pdf" -> buildEncryptedObjStmPdf(), // decrypt before ObjStm expansion
      "xr_enc.pdf" -> buildEncryptedXrefPdf(),
      "gb.pdf" -> buildPredefCMapPdf(), // predefined UniGB-UCS2-H, no ToUnicode
      "diff.pdf" -> buildDifferencesPdf(),
      "notes.txt" -> bytes("not a pdf")
    ).foreach { case (name, data) => java.nio.file.Files.write(p.resolve(name), data) }
    dir
  }
}
