package graft.export

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** K3 xlsx codec: byte-level round-trip, replace-if-exists semantics, and
  * parity between the xlsx read path and the CSV-materialized read path.
  */
class XlsxSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory("xlsx").resolve(name).toString

  test("round-trip: strings, numbers, blanks, escapes survive write→read") {
    val path = tmp("rt.xlsx")
    val g1: Xlsx.Grid = (
      Array("Day", "Hour", "A&B <stn>", "08MF005"),
      Array(
        Array("01-01", "0", "a \"quoted\" value", "1234.5"),
        Array("", "1", "", "-2.5e3"),            // blanks + scientific
        Array("12-31", "23", "naïve ünicode", "007"))) // leading zero stays text-exact
    val g2: Xlsx.Grid = (Array("only"), Array(Array("x")))
    Xlsx.write(path, Seq("2023" -> g1, "2024" -> g2))

    val back = Xlsx.read(path)
    assert(back.map(_._1) === Seq("2023", "2024"))
    val (h, rows) = back.head._2
    assert(h === g1._1)
    assert(rows.map(_.toSeq) === g1._2.map(_.toSeq))
    assert(back(1)._2._1 === Array("only"))
  }

  test("upsertSheet: replaces in place, appends when absent, keeps order") {
    val path = tmp("up.xlsx")
    val g = (Array("c"), Array(Array("1")))
    Xlsx.write(path, Seq("2022" -> g, "2023" -> g))
    Xlsx.upsertSheet(path, "2023", (Array("c"), Array(Array("99"))))   // replace
    Xlsx.upsertSheet(path, "2024", (Array("c"), Array(Array("42"))))   // append
    val back = Xlsx.read(path)
    assert(back.map(_._1) === Seq("2022", "2023", "2024"))
    assert(back(1)._2._2.head.head === "99" && back(2)._2._2.head.head === "42")
  }

  test("upsertSheet of sheetRows: DataFrame nulls render as blank cells") {
    import spark.implicits._
    val path = tmp("df.xlsx")
    val df = Seq(("01-01", Some(1.5)), ("01-02", None: Option[Double]))
      .toDF("Day", "08MF005")
    Xlsx.upsertSheet(path, "2023", Exports.sheetRows(df, "Day"))
    val (h, rows) = Xlsx.read(path).head._2
    assert(h === Array("Day", "08MF005"))
    assert(rows.map(_.toSeq) === Array(Seq("01-01", "1.5"), Seq("01-02", "")))
  }

  test("readHourlySheetXlsx matches the CSV-materialized read path") {
    import spark.implicits._
    // the CSV fixture's grid, as a workbook sheet (blank = ffill/NaN cells)
    val grid: Xlsx.Grid = (
      Array("Day", "Hour", "08MF005", "08MG00A"),
      Array(
        Array("01-01", "0", "1100.0", "11.0"),
        Array("", "1", "1101.0", ""),
        Array("12-31", "23", "1234.5", "12.3"),
        Array("01-01", "0", "1300.0", "13.0"),
        Array("01-01", "1", "1301.0", "13.1")))
    val path = tmp("hourly.xlsx")
    Xlsx.write(path, Seq("2023" -> grid))

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"station", date_format($"ts", "yyyy-MM-dd HH").as("t"), $"value")
      .as[(String, String, Option[Double])].collect().toSet
    val fromXlsx = canon(graft.ingest.ExcelShaped.readHourlySheetXlsx(
      spark, path, "2023", 2023, "Q"))
    val fromCsv = canon(graft.ingest.ExcelShaped.readHourlySheet(
      spark, resource("excel/hourly_q.csv"), 2023, "Q"))
    assert(fromXlsx === fromCsv && fromXlsx.nonEmpty)
    // rollover made it through the xlsx path too
    assert(fromXlsx.exists(_._2.startsWith("2024-01-01")))
  }

  test("reader resolves sharedStrings cells (openpyxl/xlsxwriter shape)") {
    // hand-assembled workbook using t="s" cells + a sharedStrings part —
    // the shape external writers produce, which our writer never emits
    val path = tmp("sst.xlsx")
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    def part(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    part("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/></Types>""")
    part("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    part("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
      """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      """<sheets><sheet name="2023" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    part("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    part("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">""" +
      """<si><t>Day</t></si><si><r><t>08MF</t></r><r><t>005</t></r></si><si><t>01-01</t></si></sst>""")
    part("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>""" +
      """<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>1234.5</v></c></row>""" +
      // external writers OMIT all-blank rows: row 3 is absent, row 4 must
      // land at grid position 3 (not shift up)
      """<row r="4"><c r="B4"><v>9.5</v></c></row>""" +
      """</sheetData></worksheet>""")
    zos.close()

    val back = Xlsx.read(path)
    assert(back.map(_._1) === Seq("2023"))
    val (h, rows) = back.head._2
    assert(h === Array("Day", "08MF005"))   // rich-text <r> runs concatenate
    assert(rows.map(_.toSeq) === Array(
      Seq("01-01", "1234.5"),
      Seq("", ""),              // the omitted blank row is reconstructed
      Seq("", "9.5")))
  }

  test("interop: reads the reference-authored STN_list.xlsx (Excel output)") {
    // the one real third-party workbook available: the reference's station
    // config (discharge_obs_pd.py:395 reads it with pd.read_excel). Written
    // by Excel itself — sharedStrings (931 entries), style attrs, dimension/
    // sheetView parts, mixed number cells — none of which our writer emits.
    // The fixture lives outside the repo; skip (don't fail) on checkouts
    // without the reference tree.
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get("/root/reference/STN_list.xlsx")),
      "reference workbook not present on this machine")
    val back = Xlsx.read("/root/reference/STN_list.xlsx")
    assert(back.map(_._1) === Seq("Sheet1"))
    val (h, rows) = back.head._2
    assert(h.head === "ID")
    assert(rows.length === 460)
    val ids = rows.map(_.head).toSeq
    assert(ids.distinct.size === 460)                  // all populated, unique
    assert(ids.contains("07EA004") && ids.contains("08MH032"))
    // three IDs carry trailing spaces IN the file — a faithful reader
    // preserves them (pd.read_excel returns them padded too)
    assert(ids.forall(_.trim.matches("[0-9A-Z]{7}")))
    // numeric cells come back as their <v> text (LAT/LONG in cols I/J)
    val latIdx = h.indexOf("LAT")
    assert(latIdx >= 0)
    assert(rows.exists(r => r(latIdx).nonEmpty && r(latIdx).toDouble > 48.0))
  }

  test("upsertSheet passthrough: untouched sheets' XML and styles survive byte-identically") {
    // an Excel-authored-shaped workbook: styles part, themed, styled cells
    // (s= attrs), column widths, sharedStrings, a sheet-level rels part —
    // everything our own writer never emits. Replacing ONE sheet must
    // leave every other part byte-identical (the openpyxl replace-sheet
    // contract, dischargeobs_write_xl.py:136-144).
    val path = tmp("styled.xlsx")
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    def part(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    part("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""" +
      """<Override PartName="/xl/theme/theme1.xml" ContentType="application/vnd.openxmlformats-officedocument.theme+xml"/></Types>""")
    part("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    part("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
      """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      """<sheets><sheet name="Config" sheetId="1" r:id="rId1"/><sheet name="2023" sheetId="2" r:id="rId2"/></sheets></workbook>""")
    part("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
      """<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>""" +
      """<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/></Relationships>""")
    val styledSheet1 =
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      """<cols><col min="1" max="1" width="23.5" customWidth="1"/></cols><sheetData>""" +
      """<row r="1" ht="21" customHeight="1"><c r="A1" t="inlineStr" s="3"><is><t>Station</t></is></c></row>""" +
      """<row r="2"><c r="A2" t="inlineStr" s="1"><is><t>08MF005</t></is></c><c r="B2" s="2"><v>1.25</v></c></row>""" +
      """</sheetData></worksheet>"""
    part("xl/worksheets/sheet1.xml", styledSheet1)
    part("xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
      """<row r="1"><c r="A1" t="inlineStr"><is><t>old</t></is></c></row></sheetData></worksheet>""")
    part("xl/worksheets/_rels/sheet2.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"/>""")
    val stylesXml =
      """<?xml version="1.0"?><styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      """<fonts count="2"><font><sz val="11"/></font><font><b/><sz val="14"/></font></fonts></styleSheet>"""
    part("xl/styles.xml", stylesXml)
    part("xl/theme/theme1.xml", """<?xml version="1.0"?><a:theme xmlns:a="x"><a:name>Office</a:name></a:theme>""")
    zos.close()

    def partBytes(p: String, entry: String): Array[Byte] = {
      val zf = new java.util.zip.ZipFile(p)
      try {
        val e = zf.getEntry(entry)
        if (e == null) null
        else {
          val out = new java.io.ByteArrayOutputStream()
          zf.getInputStream(e).transferTo(out); out.toByteArray
        }
      } finally zf.close()
    }
    val before = Seq("xl/worksheets/sheet1.xml", "xl/styles.xml",
      "xl/theme/theme1.xml", "xl/workbook.xml", "[Content_Types].xml")
      .map(n => n -> partBytes(path, n)).toMap

    // REPLACE the 2023 sheet: every other part byte-identical, the
    // replaced sheet's stale rels part dropped
    Xlsx.upsertSheet(path, "2023", (Array("c"), Array(Array("new"))))
    before.foreach { case (n, b) =>
      assert(java.util.Arrays.equals(partBytes(path, n), b), s"$n changed on replace") }
    assert(partBytes(path, "xl/worksheets/_rels/sheet2.xml.rels") == null)
    val afterReplace = Xlsx.read(path)
    assert(afterReplace.map(_._1) === Seq("Config", "2023"))
    assert(afterReplace(1)._2._2.head.head === "new")
    assert(afterReplace(0)._2._2.head.toSeq === Seq("08MF005", "1.25"))

    // APPEND a new sheet: both existing worksheet parts + styles survive
    // byte-identically; only the three registry parts gain one entry each
    val sheet2After = partBytes(path, "xl/worksheets/sheet2.xml")
    Xlsx.upsertSheet(path, "2024", (Array("c"), Array(Array("42"))))
    assert(java.util.Arrays.equals(partBytes(path, "xl/worksheets/sheet1.xml"),
      before("xl/worksheets/sheet1.xml")), "sheet1 changed on append")
    assert(java.util.Arrays.equals(partBytes(path, "xl/worksheets/sheet2.xml"),
      sheet2After), "sheet2 changed on append")
    assert(java.util.Arrays.equals(partBytes(path, "xl/styles.xml"),
      before("xl/styles.xml")), "styles changed on append")
    val afterAppend = Xlsx.read(path)
    assert(afterAppend.map(_._1) === Seq("Config", "2023", "2024"))
    assert(afterAppend(2)._2._2.head.head === "42")
  }

  test("upsertSheet passthrough: appending to the Excel-authored reference workbook") {
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get("/root/reference/STN_list.xlsx")),
      "reference workbook not present on this machine")
    val path = tmp("stn.xlsx")
    java.nio.file.Files.copy(java.nio.file.Paths.get("/root/reference/STN_list.xlsx"),
      java.nio.file.Paths.get(path))
    def partBytes(entry: String): Array[Byte] = {
      val zf = new java.util.zip.ZipFile(path)
      try {
        val out = new java.io.ByteArrayOutputStream()
        zf.getInputStream(zf.getEntry(entry)).transferTo(out); out.toByteArray
      } finally zf.close()
    }
    val zf0 = new java.util.zip.ZipFile(path)
    val wsEntry = try {
      val en = zf0.entries()
      var found: String = null
      while (en.hasMoreElements) {
        val n = en.nextElement().getName
        if (n.startsWith("xl/worksheets/") && n.endsWith(".xml")) found = n
      }
      found
    } finally zf0.close()
    val wsBefore = partBytes(wsEntry)
    val stylesBefore = partBytes("xl/styles.xml")
    Xlsx.upsertSheet(path, "graft_audit", (Array("k", "v"), Array(Array("rows", "460"))))
    // Excel's own sheet + styles byte-identical through the upsert
    assert(java.util.Arrays.equals(partBytes(wsEntry), wsBefore))
    assert(java.util.Arrays.equals(partBytes("xl/styles.xml"), stylesBefore))
    val back = Xlsx.read(path)
    assert(back.map(_._1) === Seq("Sheet1", "graft_audit"))
    assert(back(0)._2._2.length === 460)     // original data intact
    assert(back(1)._2._2.head.toSeq === Seq("rows", "460"))
  }

  test("xlsx/xls column refs: colRef/refToCol round-trip") {
    (0 until 200).foreach { i =>
      val ref = Xlsx.colRef(i)
      assert(Xlsx.refToCol(ref + (i + 1)) === i, s"i=$i ref=$ref")
    }
    assert(Xlsx.colRef(0) === "A")
    assert(Xlsx.colRef(25) === "Z")
    assert(Xlsx.colRef(26) === "AA")
    assert(Xlsx.colRef(27 * 26 - 1) === "ZZ")
  }
}
