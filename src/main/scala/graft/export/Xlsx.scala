package graft.export

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
import javax.xml.parsers.DocumentBuilderFactory
import scala.collection.mutable
import org.w3c.dom.Element

/** K3 — minimal dependency-free .xlsx workbook codec.
  *
  * An .xlsx file is a zip of OOXML parts; the reference's daily products
  * are year-named sheets written via pandas/openpyxl with
  * replace-if-exists (dischargeobs_write_xl.py:136-144, 211-251) and ''
  * for NaN cells (:229-233). This writer/reader covers exactly that
  * product shape — single-format string/number grids, no styling — so the
  * engine can produce and re-read the actual workbook FILES instead of
  * stopping at the grid (`Exports.sheetRows`).
  *
  * Writer: numeric-looking cells become number cells (`<v>`), everything
  * else inline strings (no sharedStrings table needed); empty strings are
  * blank (cell omitted), mirroring the reference's '' NaN rendering.
  * Reader: handles inline strings, number/formula `<v>` text, and a
  * sharedStrings table (so workbooks produced by openpyxl/xlsxwriter read
  * back too); missing cells (gap refs) read as "".
  *
  * Driver-side boundary by design: sheets are bounded product exports (a
  * year of hourly rows × a model's station list), never data-sized frames.
  */
object Xlsx {

  /** header row + data rows; all cells as raw strings, "" = blank. */
  type Grid = (Array[String], Array[Array[String]])

  /** A cell may be written as a NUMBER only when the text is the CANONICAL
    * rendering of its parsed double — external consumers (Excel, openpyxl)
    * parse a number cell's <v> as a double, so "007"/"1e3"/"0.10" written
    * numerically would render as 7/1000/0.1 for them; as inline strings
    * they stay text-exact everywhere. Shared with the BIFF codec.
    */
  private[export] def canonicalDouble(v: String): Option[Double] =
    try {
      val d = v.toDouble
      if (java.lang.Double.toString(d) == v) Some(d) else None
    } catch { case _: NumberFormatException => None }

  /** Shared replace-if-exists append (dischargeobs_write_xl.py:136-144)
    * parameterized over a codec's read/write. */
  private[export] def upsert(path: String, name: String, grid: Grid,
                             readAll: String => Seq[(String, Grid)],
                             writeAll: (String, Seq[(String, Grid)]) => Unit): Unit = {
    val existing =
      if (new java.io.File(path).exists()) readAll(path) else Seq.empty
    val (kept, replaced) = existing.foldLeft((Vector.empty[(String, Grid)], false)) {
      case ((acc, done), (n, g)) =>
        if (n == name) (acc :+ (name -> grid), true) else (acc :+ (n -> g), done)
    }
    writeAll(path, if (replaced) kept else kept :+ (name -> grid))
  }

  // ---- column refs -------------------------------------------------------

  /** 0-based column index → A, B, …, Z, AA, … (bijective base 26). */
  private[export] def colRef(i: Int): String = {
    var n = i + 1
    val sb = new StringBuilder
    while (n > 0) {
      val r = (n - 1) % 26
      sb.insert(0, ('A' + r).toChar)
      n = (n - 1) / 26
    }
    sb.toString
  }

  /** "BC12" → 0-based column index of "BC". */
  private[export] def refToCol(ref: String): Int = {
    var n = 0
    var i = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      n = n * 26 + (ref.charAt(i) - 'A' + 1)
      i += 1
    }
    n - 1
  }

  // ---- writer ------------------------------------------------------------

  private def esc(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;")

  private def cellXml(ref: String, v: String): String =
    if (v.isEmpty) ""
    else if (canonicalDouble(v).isDefined) s"""<c r="$ref"><v>$v</v></c>"""
    else s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(v)}</t></is></c>"""

  private def sheetXml(grid: Grid): String = {
    val (header, rows) = grid
    val sb = new StringBuilder
    sb.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sb.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    (header +: rows.toSeq).zipWithIndex.foreach { case (cells, r) =>
      sb.append(s"""<row r="${r + 1}">""")
      cells.zipWithIndex.foreach { case (v, c) =>
        sb.append(cellXml(s"${colRef(c)}${r + 1}", v))
      }
      sb.append("</row>")
    }
    sb.append("</sheetData></worksheet>")
    sb.toString
  }

  /** Write a workbook with the given (name, grid) sheets, in order. */
  def write(path: String, sheets: Seq[(String, Grid)]): Unit = {
    require(sheets.nonEmpty, "a workbook needs at least one sheet")
    Exports.replaceFile(path) { out =>
      val zos = new ZipOutputStream(out)
      def part(name: String, content: String): Unit = {
        zos.putNextEntry(new ZipEntry(name))
        zos.write(content.getBytes("UTF-8"))
        zos.closeEntry()
      }
      val n = sheets.size
      part("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        (1 to n).map(i =>
          s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
          .mkString +
        """</Types>""")
      part("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        """</Relationships>""")
      part("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString +
        """</sheets></workbook>""")
      part("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        (1 to n).map(i =>
          s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
          .mkString +
        """</Relationships>""")
      sheets.zipWithIndex.foreach { case ((_, grid), i) =>
        part(s"xl/worksheets/sheet${i + 1}.xml", sheetXml(grid))
      }
      zos.finish()
    }
  }

  /** The reference's replace-if-exists append (dischargeobs_write_xl.py:
    * 136-144): keep other sheets, replace `name` if present, else append.
    *
    * FORMATTING PASSTHROUGH (r10, mirroring the r08 .xls treatment): the
    * openpyxl path the reference uses loads the whole workbook and
    * replaces ONE sheet, so styles, column widths, themes and every
    * other part of the OTHER sheets survive untouched
    * (dischargeobs_write_xl.py:136-144, 211-216). This upsert edits the
    * zip the same way: every part except the target sheet (and, for an
    * append, the three registry parts) is copied BYTE-IDENTICALLY; the
    * replaced sheet's own formatting is dropped exactly as openpyxl's
    * delete-and-recreate drops it. Workbooks whose registry XML lacks
    * the expected close tags (a prefixed `<x:sheets>`, say) fall back to
    * the legacy full re-serialization, which preserves values only.
    */
  def upsertSheet(path: String, name: String, grid: Grid): Unit = {
    if (!new java.io.File(path).exists()) { write(path, Seq(name -> grid)); return }
    if (!upsertInPlace(path, name, grid))
      upsert(path, name, grid, read, write)
  }

  private val WsRelType =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"
  private val WsContentType =
    "application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"

  /** Passthrough upsert on the zip container. Returns false when the
    * workbook's structure defeats the targeted edit (missing parts,
    * namespace-prefixed registry XML) — the caller then takes the legacy
    * values-only path. Workbooks here are bounded product exports
    * (driver-side boundary by design), so buffering parts in memory is
    * the same contract as `read`.
    */
  private def upsertInPlace(path: String, name: String, grid: Grid): Boolean = {
    val zf = new ZipFile(path)
    val edits = try {
      val entryNames = {
        val en = zf.entries()
        val b = Vector.newBuilder[String]
        while (en.hasMoreElements) b += en.nextElement().getName
        b.result()
      }
      val wbName = "xl/workbook.xml"
      val relsName = "xl/_rels/workbook.xml.rels"
      val ctName = "[Content_Types].xml"
      val wbBytes = zipBytes(zf, wbName).getOrElse(return false)
      val wb = parse(wbBytes)
      val sheets = children(wb, "sheet")
      val rels: Map[String, String] =
        zipBytes(zf, relsName).map { b =>
          children(parse(b), "Relationship")
            .map(r => r.getAttribute("Id") -> r.getAttribute("Target")).toMap
        }.getOrElse(Map.empty)
      sheets.find(_.getAttribute("name") == name) match {
        case Some(sh) =>
          // REPLACE: swap the one worksheet part; drop its sheet-level
          // rels (the recreated sheet references nothing — keeping them
          // would leave dangling drawing/hyperlink relationships, the
          // same cleanup openpyxl's delete-and-recreate performs)
          val target = rels.getOrElse(sh.getAttribute("r:id"),
            s"worksheets/sheet${sh.getAttribute("sheetId")}.xml")
          val full = if (target.startsWith("/")) target.drop(1) else s"xl/$target"
          if (!entryNames.contains(full)) return false
          val dir = full.substring(0, full.lastIndexOf('/') + 1)
          val base = full.substring(full.lastIndexOf('/') + 1)
          Some((Map(full -> sheetXml(grid).getBytes("UTF-8")),
            Set(dir + "_rels/" + base + ".rels"), Map.empty[String, Array[Byte]]))
        case None =>
          // APPEND: a fresh worksheet part plus one insertion in each of
          // the three registry parts — everything else copies verbatim
          val wbText = new String(wbBytes, "UTF-8")
          val relsText = zipBytes(zf, relsName).map(new String(_, "UTF-8"))
            .getOrElse(return false)
          val ctText = zipBytes(zf, ctName).map(new String(_, "UTF-8"))
            .getOrElse(return false)
          if (!wbText.contains("</sheets>") ||
              !relsText.contains("</Relationships>") ||
              !ctText.contains("</Types>")) return false
          val newSheetId = (1L +: sheets.map(_.getAttribute("sheetId"))
            .flatMap(_.toLongOption)).max + 1
          val newRid = "rId" + ((0L +: rels.keys.toSeq
            .flatMap(id => if (id.startsWith("rId")) id.drop(3).toLongOption else None)).max + 1)
          var k = 1
          while (entryNames.contains(s"xl/worksheets/graftSheet$k.xml")) k += 1
          val partName = s"xl/worksheets/graftSheet$k.xml"
          Some((Map(
            wbName -> wbText.replace("</sheets>",
              s"""<sheet name="${esc(name)}" sheetId="$newSheetId" r:id="$newRid"/></sheets>""")
              .getBytes("UTF-8"),
            relsName -> relsText.replace("</Relationships>",
              s"""<Relationship Id="$newRid" Type="$WsRelType" Target="worksheets/graftSheet$k.xml"/></Relationships>""")
              .getBytes("UTF-8"),
            ctName -> ctText.replace("</Types>",
              s"""<Override PartName="/$partName" ContentType="$WsContentType"/></Types>""")
              .getBytes("UTF-8")),
            Set.empty[String],
            Map(partName -> sheetXml(grid).getBytes("UTF-8"))))
      }
    } catch { case scala.util.control.NonFatal(_) => None } finally zf.close()

    edits match {
      case None => false
      case Some((replaced, dropped, added)) =>
        val zin = new ZipFile(path)
        try Exports.replaceFile(path) { out =>
          val zos = new ZipOutputStream(out)
          val en = zin.entries()
          while (en.hasMoreElements) {
            val e = en.nextElement()
            if (!dropped.contains(e.getName)) {
              zos.putNextEntry(new ZipEntry(e.getName))
              replaced.get(e.getName) match {
                case Some(b) => zos.write(b)
                case None => zin.getInputStream(e).transferTo(zos)
              }
              zos.closeEntry()
            }
          }
          added.foreach { case (n, b) =>
            zos.putNextEntry(new ZipEntry(n)); zos.write(b); zos.closeEntry()
          }
          zos.finish()
        } finally zin.close()
        true
    }
  }

  // ---- reader ------------------------------------------------------------

  private def parse(bytes: Array[Byte]): Element = {
    val f = DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(false)
    f.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(bytes))
      .getDocumentElement
  }

  private def children(e: Element, tag: String): Seq[Element] = {
    val nl = e.getElementsByTagName(tag)
    (0 until nl.getLength).map(nl.item(_).asInstanceOf[Element])
  }

  private def zipBytes(zf: ZipFile, name: String): Option[Array[Byte]] =
    Option(zf.getEntry(name)).map { e =>
      val in = zf.getInputStream(e)
      val out = new ByteArrayOutputStream()
      in.transferTo(out)
      out.toByteArray
    }

  /** Read every sheet as a string grid (see object doc for coverage). */
  def read(path: String): Seq[(String, Grid)] = {
    val zf = new ZipFile(path)
    try {
      val shared: IndexedSeq[String] =
        zipBytes(zf, "xl/sharedStrings.xml").map { b =>
          children(parse(b), "si").map(si =>
            children(si, "t").map(_.getTextContent).mkString).toIndexedSeq
        }.getOrElse(IndexedSeq.empty)
      val rels: Map[String, String] =
        zipBytes(zf, "xl/_rels/workbook.xml.rels").map { b =>
          children(parse(b), "Relationship")
            .map(r => r.getAttribute("Id") -> r.getAttribute("Target")).toMap
        }.getOrElse(Map.empty)
      val wb = parse(zipBytes(zf, "xl/workbook.xml")
        .getOrElse(throw new IllegalArgumentException(s"$path: no xl/workbook.xml")))
      children(wb, "sheet").map { sh =>
        val name = sh.getAttribute("name")
        val rid = sh.getAttribute("r:id")
        val target = rels.getOrElse(rid,
          s"worksheets/sheet${sh.getAttribute("sheetId")}.xml")
        val full = if (target.startsWith("/")) target.drop(1) else s"xl/$target"
        val ws = parse(zipBytes(zf, full)
          .getOrElse(throw new IllegalArgumentException(s"$path: missing $full")))
        name -> sheetGrid(ws, shared)
      }
    } finally zf.close()
  }

  /** Rows/cells are placed by their `r` attributes when present — external
    * writers (openpyxl/xlsxwriter) OMIT rows/cells that are entirely
    * blank, so positional placement would silently shift later rows up.
    * Missing attributes fall back to sequential position.
    */
  private def sheetGrid(ws: Element, shared: IndexedSeq[String]): Grid = {
    val byRow = mutable.Map.empty[Int, mutable.Map[Int, String]]
    var lastRow = -1
    children(ws, "row").foreach { row =>
      val rAttr = row.getAttribute("r")
      val rIdx = if (rAttr.nonEmpty) rAttr.toInt - 1 else lastRow + 1
      lastRow = rIdx
      val cells = byRow.getOrElseUpdate(rIdx, mutable.Map.empty)
      var lastCol = -1
      children(row, "c").foreach { c =>
        val ref = c.getAttribute("r")
        val idx = if (ref.nonEmpty) refToCol(ref) else lastCol + 1
        lastCol = idx
        val v = c.getAttribute("t") match {
          case "inlineStr" => children(c, "t").map(_.getTextContent).mkString
          case "s" =>
            children(c, "v").headOption.map(_.getTextContent.trim.toInt)
              .map(shared.apply).getOrElse("")
          case _ => children(c, "v").headOption.map(_.getTextContent).getOrElse("")
        }
        cells(idx) = v
      }
    }
    if (byRow.isEmpty) return (Array.empty[String], Array.empty[Array[String]])
    val nRows = byRow.keys.max + 1
    val width = byRow.values.map(r => if (r.isEmpty) 0 else r.keys.max + 1).max
    val grid = Array.tabulate(nRows) { r =>
      val cells = byRow.getOrElse(r, mutable.Map.empty[Int, String])
      Array.tabulate(width)(i => cells.getOrElse(i, ""))
    }
    (grid.head, grid.tail)
  }
}
