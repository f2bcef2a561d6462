package graft.engine

import java.io.{ByteArrayOutputStream, InputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import javax.xml.parsers.DocumentBuilderFactory

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Minimal self-contained XLSX codec (reference format='xlsx',
  * pandas_aws/s3.py:172-175 / :239-240 — via xlsxwriter/read_excel; no such
  * library exists offline, and XLSX is a zip of known XML, so we write the
  * five required members directly: SURVEY.md §7.4.1).
  *
  * Excel is inherently a single-file driver-side format — the reference also
  * materializes the whole frame to one buffer. We therefore cap collected
  * rows (maxRows) and document xlsx as a small-export/import path, NOT a
  * 100 TB path; large data belongs in parquet/csv.
  */
object Xlsx {

  val maxRows: Int = 1 << 20 // hard Excel sheet limit (1,048,576)
  private val sheetName = "Sheet1" // fixed, as the reference (pandas_aws/s3.py:175)

  private def colRef(i: Int): String = {
    var n = i + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '<' => "&lt;"; case '>' => "&gt;"; case '&' => "&amp;"
      case '"' => "&quot;"; case c => c.toString
    }

  // OOXML string escaping (ECMA-376 _xHHHH_ convention): XML 1.0 cannot
  // carry control chars at all — not even entity-escaped — and parsers
  // normalize \r to \n in element content, so both would silently corrupt
  // a round-trip. Store them as _xHHHH_; protect a literal substring the
  // decoder would mistake for an escape by escaping its underscore as
  // _x005F_. The guard must fire not only on literal `_xHHHH_` but also on
  // `_xHHHH` whose closing underscore would come from an ESCAPE inserted
  // right after it (e.g. "_x005F" +  → "_x005F_x0001_" would decode
  // as "_" + "x0001_") — hence the single-pass scan with lookahead rather
  // than a regex over the raw input.
  private val escapedChar = "_x([0-9A-Fa-f]{4})_".r

  private def needsEscape(c: Char): Boolean = c < ' ' && c != '\t' && c != '\n'

  private def isHexDigit(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  private[graft] def ooxmlEscape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (needsEscape(c)) sb ++= f"_x${c.toInt}%04X_"
      else if (c == '_' && i + 6 < s.length && s.charAt(i + 1) == 'x' &&
          (2 to 5).forall(k => isHexDigit(s.charAt(i + k))) &&
          (s.charAt(i + 6) == '_' || needsEscape(s.charAt(i + 6))))
        sb ++= "_x005F_" // would otherwise form a decodable _xHHHH_ pattern
      else sb += c
      i += 1
    }
    sb.toString
  }

  private[graft] def ooxmlUnescape(s: String): String =
    escapedChar.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
      Integer.parseInt(m.group(1), 16).toChar.toString))

  /** Serialize a DataFrame to one xlsx file at `uri`, ROW-STREAMED: rows
    * arrive partition by partition (`toLocalIterator`) and the zip deflates
    * straight onto the filesystem stream, so driver memory is O(one
    * partition + zip buffer) — never the whole frame, never the whole
    * rendered XML. The format itself stays inherently single-file/
    * single-node (the reference materializes one buffer too); the cap
    * enforces Excel's sheet limit, aborting (and deleting the partial
    * object) the moment row cap+1 streams in, rather than pre-counting. */
  def write(df: DataFrame, uri: String): Unit = {
    import scala.jdk.CollectionConverters._
    val fs = EngineFs.of(df.sparkSession, uri)
    val out = fs.create(new Path(uri), true)
    var ok = false
    try {
      streamWorkbook(df.schema, df.toLocalIterator().asScala, out, maxRows)
      ok = true
    } finally {
      out.close()
      if (!ok) fs.delete(new Path(uri), false) // never leave a torn workbook
    }
  }

  /** Multipart xlsx with reference naming (pandas_aws/s3.py:90-93,188-195):
    * `parts` workbook files `<dirUri>/<stem>.<i>.xlsx` (1-based), rows split
    * contiguously with np.array_split sizing (first `len % parts` chunks get
    * one extra row), so a pre-sorted frame stays globally ordered across the
    * part sequence. Row-streamed like [[write]] — one count pass fixes the
    * np.array_split chunk sizes, then ONE iterator pass feeds every part in
    * order; the per-part cap holds by the split arithmetic (ceil(n/parts) ≤
    * maxRows ⇐ n ≤ parts·maxRows). Deviation from np.array_split: chunks
    * beyond the row count would be EMPTY workbooks, whose header-only
    * sheets lose the column types on read-back (every column infers string)
    * and then poison the union; we skip writing them instead. */
  def writeParts(df: DataFrame, dirUri: String, stem: String, suffix: String, parts: Int): Unit = {
    import scala.jdk.CollectionConverters._
    require(parts > 0, "parts must be > 0")
    val n = df.count()
    require(n <= parts.toLong * maxRows,
      s"xlsx export capped at $maxRows rows per part — use parquet/csv for large data")
    val fs = EngineFs.of(df.sparkSession, dirUri)
    val base = n / parts
    val extra = (n % parts).toInt
    val it = df.toLocalIterator().asScala
    (0 until parts).foreach { i =>
      val sz = base + (if (i < extra) 1 else 0)
      if (sz > 0) {
        // bounded view over the shared iterator: consumes exactly sz rows
        val chunk = new Iterator[Row] {
          private var k = 0L
          def hasNext: Boolean = k < sz && it.hasNext
          def next(): Row = { k += 1; it.next() }
        }
        val p = new Path(s"$dirUri/$stem.${i + 1}.$suffix")
        val out = fs.create(p, true)
        var ok = false
        try { streamWorkbook(df.schema, chunk, out, maxRows); ok = true }
        finally { out.close(); if (!ok) fs.delete(p, false) }
      }
    }
  }

  /** Test/read-path surface: render a whole workbook to bytes (delegates to
    * the streaming writer over an in-memory sink). */
  private[graft] def render(schema: StructType, rows: Array[Row]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    streamWorkbook(schema, rows.iterator, bos, maxRows)
    bos.toByteArray
  }

  /** Stream the five OOXML members onto `out`; the sheet member renders row
    * by row, flushing each row's XML to the deflater — no whole-sheet
    * buffer. Throws past `cap` data rows (caller owns cleanup). */
  private def streamWorkbook(
      schema: StructType,
      rows: Iterator[Row],
      out: java.io.OutputStream,
      cap: Int): Unit = {
    val fixedMembers = Seq(
      "[Content_Types].xml" ->
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
          |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
          |<Default Extension="xml" ContentType="application/xml"/>
          |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
          |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
          |</Types>""".stripMargin,
      "_rels/.rels" ->
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
          |</Relationships>""".stripMargin,
      "xl/workbook.xml" ->
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
           |<sheets><sheet name="$sheetName" sheetId="1" r:id="rId1"/></sheets>
           |</workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
          |</Relationships>""".stripMargin)
    val zip = new ZipOutputStream(out)
    fixedMembers.foreach { case (name, content) =>
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    zip.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    val w = new java.io.OutputStreamWriter(zip, "UTF-8")
    w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    w.write("<row r=\"1\">")
    schema.fields.zipWithIndex.foreach { case (f, c) =>
      w.write(s"""<c r="${colRef(c)}1" t="inlineStr"><is><t>${xmlEscape(ooxmlEscape(f.name))}</t></is></c>""")
    }
    w.write("</row>")
    var r = 0
    val sb = new StringBuilder
    while (rows.hasNext) {
      val row = rows.next()
      require(r < cap,
        s"xlsx export capped at $cap rows — use parquet/csv for large data")
      sb.setLength(0)
      sb ++= s"""<row r="${r + 2}">"""
      schema.fields.zipWithIndex.foreach { case (f, c) =>
        if (!row.isNullAt(c)) {
          val ref = s"${colRef(c)}${r + 2}"
          f.dataType match {
            case _: NumericType =>
              sb ++= s"""<c r="$ref"><v>${row.get(c)}</v></c>"""
            case BooleanType =>
              sb ++= s"""<c r="$ref" t="b"><v>${if (row.getBoolean(c)) 1 else 0}</v></c>"""
            case _ =>
              sb ++= s"""<c r="$ref" t="inlineStr"><is><t>${xmlEscape(ooxmlEscape(String.valueOf(row.get(c))))}</t></is></c>"""
          }
        }
      }
      sb ++= "</row>"
      w.write(sb.toString)
      r += 1
    }
    w.write("</sheetData></worksheet>")
    w.flush()
    zip.closeEntry()
    zip.finish() // flush the zip directory WITHOUT closing the caller's stream
  }

  /** Read one xlsx file into a DataFrame. Column types are inferred per
    * column (long → double → boolean → string), like pandas read_excel. */
  def read(spark: SparkSession, uri: String): DataFrame = {
    val fs = EngineFs.of(spark, uri)
    val in = fs.open(new Path(uri))
    val (header, cells) = try parseSheet(in) finally in.close()
    val inferred = header.indices.map { c =>
      val vals = cells.flatMap(r => r.lift(c).flatten)
      if (vals.isEmpty) StringType
      else if (vals.forall(v => v._2 == 'n' && v._1.matches("-?\\d+"))) LongType
      else if (vals.forall(_._2 == 'n')) DoubleType
      else if (vals.forall(_._2 == 'b')) BooleanType
      else StringType
    }
    val schema = StructType(header.zip(inferred).map { case (n, t) => StructField(n, t) })
    val rows = cells.map { r =>
      Row.fromSeq(header.indices.map { c =>
        r.lift(c).flatten.map { case (v, t) =>
          inferred(c) match {
            case LongType    => v.toLong // direct parse — toDouble.toLong corrupts |v| >= 2^53
            case DoubleType  => v.toDouble
            case BooleanType => v == "1" || v.equalsIgnoreCase("true")
            case _           => v
          }
        }.orNull
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq), schema)
  }

  private[graft] def parseForTest(bytes: Array[Byte]): (Seq[String], Seq[Seq[Option[(String, Char)]]]) =
    parseSheet(new java.io.ByteArrayInputStream(bytes))

  /** Parse sheet1.xml → (header names, rows of (value, type-tag) options).
    * Type tags: 'n' number, 'b' boolean, 's' string. Reads files this codec
    * wrote AND externally-authored workbooks: shared-string cells (t="s")
    * resolve through xl/sharedStrings.xml — treating them as inline text
    * would silently return the string-table INDEX for every string cell of
    * an Excel/openpyxl file — and cells without an `r` reference (legal
    * OOXML) fall back to their sequential position in the row. */
  private def parseSheet(zipStream: InputStream): (Seq[String], Seq[Seq[Option[(String, Char)]]]) = {
    val zis = new ZipInputStream(zipStream)
    var sheetBytes: Array[Byte] = null
    var sharedBytes: Array[Byte] = null
    var entry = zis.getNextEntry
    while (entry != null && (sheetBytes == null || sharedBytes == null)) {
      val grab = entry.getName == "xl/worksheets/sheet1.xml" ||
        entry.getName == "xl/sharedStrings.xml"
      if (grab) {
        val bos = new ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = zis.read(buf)
        while (n > 0) { bos.write(buf, 0, n); n = zis.read(buf) }
        if (entry.getName == "xl/worksheets/sheet1.xml") sheetBytes = bos.toByteArray
        else sharedBytes = bos.toByteArray
      }
      entry = zis.getNextEntry
    }
    require(sheetBytes != null, "xl/worksheets/sheet1.xml not found in xlsx")
    val dbf = DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(false)
    val builder = dbf.newDocumentBuilder()
    val sharedStrings: IndexedSeq[String] =
      if (sharedBytes == null) IndexedSeq.empty
      else {
        val sdoc = builder.parse(new java.io.ByteArrayInputStream(sharedBytes))
        val sis = sdoc.getElementsByTagName("si")
        (0 until sis.getLength).map(i => sis.item(i).getTextContent)
      }
    val doc = builder.parse(new java.io.ByteArrayInputStream(sheetBytes))
    val rowNodes = doc.getElementsByTagName("row")
    val allRows = (0 until rowNodes.getLength).map { i =>
      val rowEl = rowNodes.item(i).asInstanceOf[org.w3c.dom.Element]
      val cellNodes = rowEl.getElementsByTagName("c")
      val cells = scala.collection.mutable.Map[Int, (String, Char)]()
      (0 until cellNodes.getLength).foreach { j =>
        val cEl = cellNodes.item(j).asInstanceOf[org.w3c.dom.Element]
        val ref = cEl.getAttribute("r").takeWhile(_.isLetter)
        val colIdx =
          if (ref.isEmpty) j // no cell reference: sequential position
          else ref.foldLeft(0)((a, ch) => a * 26 + (ch - 'A' + 1)) - 1
        val t = cEl.getAttribute("t")
        val text0 = cEl.getTextContent
        val (text, tag) = t match {
          case "s" => // shared-string table reference
            (ooxmlUnescape(sharedStrings.lift(text0.trim.toInt).getOrElse("")), 's')
          case "inlineStr" | "str" => (ooxmlUnescape(text0), 's')
          case "b"                 => (text0, 'b')
          case _                   => (text0, 'n')
        }
        cells(colIdx) = (text, tag)
      }
      val width = if (cells.isEmpty) 0 else cells.keys.max + 1
      (0 until width).map(cells.get).toSeq
    }
    val header = allRows.head.map(_.map(_._1).getOrElse(""))
    (header, allRows.tail)
  }
}
