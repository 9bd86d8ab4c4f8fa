package graft.export

import java.nio.file.Files
import graft.SparkSpec

/** K4 BIFF8-in-CFB codec: container sanity, round-trip, upsert, and the
  * canonical-number rule that keeps grids byte-exact.
  */
class XlsSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory("xls").resolve(name).toString

  test("round-trip: numbers, non-canonical numerics, unicode, blanks") {
    val path = tmp("rt.xls")
    val g: Xls.Grid = (
      Array("DATE", "08MF005", "note"),
      Array(
        Array("2023-01-01", "1234.5", "naïve ünicode"),
        Array("2023-01-02", "", "007"),       // blank + leading-zero TEXT
        Array("2023-01-03", "-2.5E-3", "1e3"))) // canonical vs non-canonical
    Xls.write(path, Seq("2023" -> g))

    // container magic
    val head = Files.readAllBytes(java.nio.file.Paths.get(path)).take(4)
    assert(head.map(_ & 0xFF).toSeq === Seq(0xD0, 0xCF, 0x11, 0xE0))

    val back = Xls.read(path)
    assert(back.map(_._1) === Seq("2023"))
    val (h, rows) = back.head._2
    assert(h === g._1)
    assert(rows.map(_.toSeq) === g._2.map(_.toSeq))
  }

  test("multi-sheet + upsert: replace in place, append when absent") {
    val path = tmp("up.xls")
    val g = (Array("c"), Array(Array("1.0")))
    Xls.write(path, Seq("2022" -> g, "2023" -> g))
    Xls.upsertSheet(path, "2023", (Array("c"), Array(Array("99.0"))))
    Xls.upsertSheet(path, "2024", (Array("c"), Array(Array("42.0"))))
    val back = Xls.read(path)
    assert(back.map(_._1) === Seq("2022", "2023", "2024"))
    assert(back(1)._2._2.head.head === "99.0")
    assert(back(2)._2._2.head.head === "42.0")
  }

  test("upsert passes foreign formatting records through byte-identically") {
    // an "Excel-authored" workbook: seed with our writer, then splice in
    // records this codec never emits — a FORMAT (0x041E) in the globals
    // and a COLINFO (0x007D) inside the KEEP sheet — patching the two
    // BOUNDSHEET lbPlyPos offsets by hand, exactly as a foreign writer
    // would have laid the file out
    def u16(a: Array[Byte], p: Int): Int =
      (a(p) & 0xFF) | ((a(p + 1) & 0xFF) << 8)
    def i32(a: Array[Byte], p: Int): Int =
      u16(a, p) | (u16(a, p + 2) << 16)
    def putI32(a: Array[Byte], p: Int, v: Int): Unit = {
      a(p) = (v & 0xFF).toByte; a(p + 1) = ((v >> 8) & 0xFF).toByte
      a(p + 2) = ((v >> 16) & 0xFF).toByte; a(p + 3) = ((v >> 24) & 0xFF).toByte
    }
    def rec(tpe: Int, bodyBytes: Array[Byte]): Array[Byte] =
      Array((tpe & 0xFF).toByte, ((tpe >> 8) & 0xFF).toByte,
        (bodyBytes.length & 0xFF).toByte,
        ((bodyBytes.length >> 8) & 0xFF).toByte) ++ bodyBytes
    // walk helper: (recordPos, type, len) triples until stream end
    def records(a: Array[Byte]): Seq[(Int, Int, Int)] = {
      val out = Seq.newBuilder[(Int, Int, Int)]
      var p = 0
      while (p + 4 <= a.length) {
        out += ((p, u16(a, p), u16(a, p + 2))); p += 4 + u16(a, p + 2)
      }
      out.result()
    }
    val path = tmp("fmt.xls")
    Xls.write(path, Seq(
      "KEEP" -> ((Array("k"), Array(Array("7.0")))),
      "REPL" -> ((Array("r"), Array(Array("1.0"))))))
    val s0 = Xls.readWorkbookStream(path)
    val recs0 = records(s0)
    val bsFields = recs0.filter(_._2 == 0x0085).map(_._1 + 4)
    val Seq(offKeep0, offRepl0) = bsFields.map(i32(s0, _))
    val globalsEof = recs0.find(_._2 == 0x000A).get._1
    // FORMAT record: ifmt 164, fmt string "0.00" (utf16)
    val format = rec(0x041E,
      Array[Byte](164.toByte, 0, 4, 0, 1) ++ "0.00".flatMap(c => Seq(c.toByte, 0.toByte)))
    // COLINFO: cols 0-0, width 4000, ixfe 15
    val colinfo = rec(0x007D,
      Array[Byte](0, 0, 0, 0, (4000 & 0xFF).toByte, (4000 >> 8).toByte, 15, 0, 0, 0, 0, 0))
    // splice FORMAT before globals EOF, COLINFO right after KEEP's BOF
    val keepBofEnd = offKeep0 + format.length + 4 + 16
    val s1 = s0.take(globalsEof) ++ format ++
      s0.slice(globalsEof, keepBofEnd - format.length) ++ colinfo ++
      s0.drop(keepBofEnd - format.length)
    putI32(s1, bsFields(0), offKeep0 + format.length)
    putI32(s1, bsFields(1), offRepl0 + format.length + colinfo.length)
    Xls.writeCfb(path, s1)
    // sanity: the foreign-record workbook still reads correctly
    assert(Xls.read(path).map(_._1) === Seq("KEEP", "REPL"))
    // the upsert replaces REPL only
    Xls.upsertSheet(path, "REPL", (Array("r"), Array(Array("2.5"))))
    val back = Xls.read(path)
    assert(back.map(_._1) === Seq("KEEP", "REPL"))
    assert(back.head._2._2.head.head === "7.0")
    assert(back(1)._2._2.head.head === "2.5")
    val s2 = Xls.readWorkbookStream(path)
    // globals (through the FORMAT record and EOF) are byte-identical —
    // REPL sits after KEEP so no lbPlyPos before it changed
    val globalsLen = globalsEof + format.length + 4
    assert(s2.take(globalsLen).sameElements(s1.take(globalsLen)),
      "globals bytes (incl. the foreign FORMAT record) must survive upsert")
    // the KEEP substream (incl. the foreign COLINFO record) is untouched
    val keepStart = i32(s2, bsFields(0))
    val replStart = i32(s2, bsFields(1))
    assert(keepStart === offKeep0 + format.length)
    assert(s2.slice(keepStart, replStart)
      .sameElements(s1.slice(keepStart, i32(s1, bsFields(1)))),
      "KEEP substream bytes must survive upsert byte-identically")
    // append still works on the foreign file and keeps everything again
    Xls.upsertSheet(path, "NEW", (Array("n"), Array(Array("3.0"))))
    val back2 = Xls.read(path)
    assert(back2.map(_._1) === Seq("KEEP", "REPL", "NEW"))
    assert(back2.head._2._2.head.head === "7.0")
    val s3 = Xls.readWorkbookStream(path)
    assert(s3.toSeq.containsSlice(colinfo.toSeq),
      "COLINFO record must survive the append splice too")
  }

  test("upsert preserves in-sheet formatting: per-cell XF, COLINFO, blanks") {
    // xlutils-copy parity: a values rewrite over a styled sheet keeps the
    // sheet's appearance. Synthesize an "Excel-authored" FMT sheet: patch
    // its NUMBER cell to a non-default XF (16), splice a COLINFO and a
    // 2-run MULRK row with XFs 17/18, then upsert new VALUES and assert
    // every formatting channel survived.
    def u16(a: Array[Byte], p: Int): Int =
      (a(p) & 0xFF) | ((a(p + 1) & 0xFF) << 8)
    def i32(a: Array[Byte], p: Int): Int =
      u16(a, p) | (u16(a, p + 2) << 16)
    def putI32(a: Array[Byte], p: Int, v: Int): Unit = {
      a(p) = (v & 0xFF).toByte; a(p + 1) = ((v >> 8) & 0xFF).toByte
      a(p + 2) = ((v >> 16) & 0xFF).toByte; a(p + 3) = ((v >> 24) & 0xFF).toByte
    }
    def rec(tpe: Int, bodyBytes: Array[Byte]): Array[Byte] =
      Array((tpe & 0xFF).toByte, ((tpe >> 8) & 0xFF).toByte,
        (bodyBytes.length & 0xFF).toByte,
        ((bodyBytes.length >> 8) & 0xFF).toByte) ++ bodyBytes
    def recordsFrom(a: Array[Byte], from: Int): Seq[(Int, Int, Int)] = {
      val out = Seq.newBuilder[(Int, Int, Int)]
      var p = from
      var done = false
      while (!done && p + 4 <= a.length) {
        out += ((p, u16(a, p), u16(a, p + 2)))
        if (u16(a, p) == 0x000A) done = true
        p += 4 + u16(a, p + 2)
      }
      out.result()
    }
    val path = tmp("fmtcell.xls")
    Xls.write(path, Seq(
      "FMT" -> ((Array("h"), Array(Array("5.0")))),
      "ZZZ" -> ((Array("z"), Array(Array("1.0"))))))
    val s0 = Xls.readWorkbookStream(path)
    val bsFields = recordsFrom(s0, 0).filter(_._2 == 0x0085).map(_._1 + 4)
    val Seq(offFmt, offZzz) = bsFields.map(i32(s0, _))
    // patch the NUMBER cell (row 1, col 0) to ixfe 16
    val numPos = recordsFrom(s0, offFmt).find(_._2 == 0x0203).get._1
    s0(numPos + 8) = 16
    // COLINFO col 0 width 3333 + a MULRK row 2 (cols 0-1, XFs 17/18,
    // integer RKs 7 and 9), spliced before the FMT sheet EOF
    val colinfo = rec(0x007D, Array[Byte](0, 0, 0, 0,
      (3333 & 0xFF).toByte, (3333 >> 8).toByte, 15, 0, 0, 0, 0, 0))
    def rkInt(n: Int): Array[Byte] = {
      val v = (n << 2) | 2
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    }
    val mulrk = rec(0x00BD, Array[Byte](2, 0, 0, 0) ++
      (Array[Byte](17, 0) ++ rkInt(7)) ++ (Array[Byte](18, 0) ++ rkInt(9)) ++
      Array[Byte](1, 0))
    val fmtEof = recordsFrom(s0, offFmt).find(_._2 == 0x000A).get._1
    val fmtBofEnd = offFmt + 4 + 16
    val s1 = s0.take(fmtBofEnd) ++ colinfo ++ s0.slice(fmtBofEnd, fmtEof) ++
      mulrk ++ s0.drop(fmtEof)
    putI32(s1, bsFields(1), offZzz + colinfo.length + mulrk.length)
    Xls.writeCfb(path, s1)
    assert(Xls.read(path).head._2._2.map(_.toSeq) ===
      Seq(Seq("5.0", ""), Seq("7.0", "9.0")), "seeded sheet must read back")
    // VALUES rewrite: header stays, 5.0 -> 6.25, MULRK row left empty
    Xls.upsertSheet(path, "FMT", (Array("h"), Array(Array("6.25"))))
    val s2 = Xls.readWorkbookStream(path)
    val fmtRecs = recordsFrom(s2, i32(s2, bsFields(0)))
    def cellHead(p: Int) = (u16(s2, p + 4), u16(s2, p + 6), u16(s2, p + 8))
    // the rewritten NUMBER keeps XF 16 and carries the new value
    val nums = fmtRecs.filter(_._2 == 0x0203).map(r => cellHead(r._1))
    assert(nums === Seq((1, 0, 16)), s"NUMBER cells: $nums")
    val numPos2 = fmtRecs.find(_._2 == 0x0203).get._1
    val d = java.nio.ByteBuffer.wrap(s2, numPos2 + 10, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getDouble
    assert(d === 6.25)
    // the emptied MULRK cells survive as BLANKs with their old XFs
    val blanks = fmtRecs.filter(_._2 == 0x0201).map(r => cellHead(r._1))
    assert(blanks === Seq((2, 0, 17), (2, 1, 18)), s"BLANK cells: $blanks")
    // COLINFO passes through; no MULRK remains; header LABEL keeps XF 15
    assert(fmtRecs.count(_._2 == 0x007D) === 1)
    assert(fmtRecs.count(_._2 == 0x00BD) === 0)
    val labels = fmtRecs.filter(_._2 == 0x0204).map(r => cellHead(r._1))
    assert(labels === Seq((0, 0, 15)))
    // DIMENSIONS covers the blank-preserved row
    val dimPos = fmtRecs.find(_._2 == 0x0200).get._1
    assert(i32(s2, dimPos + 8) === 3, "rwMac must cover the BLANK row")
    // values read: 6.25 present, cleared row gone, ZZZ untouched
    val back = Xls.read(path)
    assert(back.head._2._2.map(_.toSeq) === Seq(Seq("6.25")))
    assert(back(1)._2._2.head.head === "1.0")

    // second round: splice a FORMULA (cell 1,0, XF 19) and a BOOLERR
    // (cell 3,0, XF 21) into the rewritten sheet, then upsert again —
    // values-replace semantics drop both record types, but their XFs
    // must be harvested (FORMULA's onto the new value at (1,0),
    // BOOLERR's onto a preserved BLANK at (3,0))
    val sA = Xls.readWorkbookStream(path)
    val fmtOffA = i32(sA, bsFields(0))
    val formula = rec(0x0006, Array[Byte](1, 0, 0, 0, 19, 0) ++
      new Array[Byte](8) ++ Array[Byte](0, 0, 0, 0, 0, 0, 0, 0))
    val boolerr = rec(0x0205, Array[Byte](3, 0, 0, 0, 21, 0, 1, 0))
    val fmtEofA = recordsFrom(sA, fmtOffA).find(_._2 == 0x000A).get._1
    val sB = sA.take(fmtEofA) ++ formula ++ boolerr ++ sA.drop(fmtEofA)
    putI32(sB, bsFields(1),
      i32(sB, bsFields(1)) + formula.length + boolerr.length)
    Xls.writeCfb(path, sB)
    Xls.upsertSheet(path, "FMT", (Array("h"), Array(Array("7.75"))))
    val s3 = Xls.readWorkbookStream(path)
    val recs3 = recordsFrom(s3, i32(s3, bsFields(0)))
    def head3(p: Int) = (u16(s3, p + 4), u16(s3, p + 6), u16(s3, p + 8))
    assert(recs3.count(r => r._2 == 0x0006 || r._2 == 0x0205) === 0,
      "formula and boolerr must be values-replaced away")
    val nums3 = recs3.filter(_._2 == 0x0203).map(r => head3(r._1))
    assert(nums3 === Seq((1, 0, 19)), s"FORMULA XF must survive: $nums3")
    val blanks3 = recs3.filter(_._2 == 0x0201).map(r => head3(r._1)).toSet
    assert(blanks3.contains((3, 0, 21)), s"BOOLERR XF -> BLANK: $blanks3")
    assert(Xls.read(path).head._2._2.map(_.toSeq) === Seq(Seq("7.75")))
  }

  test("fuzz: upsert-over-existing preserves values exactly across random grid shapes") {
    // the mergeSheetStream walk has per-record-type branches; fuzz it
    // with random old/new grid shape combinations (grown, shrunk,
    // widened, emptied, unicode, numerics) — after the upsert the sheet
    // must read back as EXACTLY the new grid, and sibling sheets must
    // be untouched
    val rnd = new scala.util.Random(4242)
    def cell(): String = rnd.nextInt(5) match {
      case 0 => ""
      case 1 => rnd.nextInt(10000).toString + ".5"
      case 2 => s"tëxt${rnd.nextInt(100)}"
      case 3 => (-rnd.nextInt(500)).toString
      case _ => "x" * (1 + rnd.nextInt(12))
    }
    def grid(maxR: Int, maxC: Int): Xls.Grid = {
      val nc = 1 + rnd.nextInt(maxC)
      val header = Array.tabulate(nc)(i => s"c$i")
      val rows = Array.fill(rnd.nextInt(maxR))(Array.fill(nc)(cell()))
      (header, rows)
    }
    // reader normalization: trailing all-empty rows/columns are not
    // representable (no cell records), so compare against the grid with
    // trailing empties dropped the way the reader rebuilds it
    def normalize(g: Xls.Grid): Seq[Seq[String]] = {
      val all = (g._1 +: g._2.toSeq).map(_.toSeq)
      val lastR = all.lastIndexWhere(_.exists(_.nonEmpty))
      val trimmedR = all.take(math.max(lastR + 1, 1))
      val lastC = trimmedR.map(_.lastIndexWhere(_.nonEmpty)).maxOption.getOrElse(-1)
      trimmedR.map(_.take(math.max(lastC + 1, 0)))
    }
    (1 to 12).foreach { trial =>
      val path = tmp(s"fuzzup$trial.xls")
      val keep = grid(6, 5)
      val old = grid(8, 6)
      Xls.write(path, Seq("KEEP" -> keep, "TGT" -> old))
      val next = grid(8, 6)
      Xls.upsertSheet(path, "TGT", next)
      val back = Xls.read(path)
      assert(back.map(_._1) === Seq("KEEP", "TGT"), s"trial $trial")
      val gotKeep = (back.head._2._1 +: back.head._2._2.toSeq).map(_.toSeq)
      assert(gotKeep === normalize(keep), s"trial $trial KEEP drifted")
      val gotTgt = (back(1)._2._1 +: back(1)._2._2.toSeq).map(_.toSeq)
      assert(gotTgt === normalize(next),
        s"trial $trial: old=${old._2.length}x${old._1.length} " +
          s"new=${next._2.length}x${next._1.length}")
    }
  }

  test("upsertSheet of sheetRows: nulls render as blank cells, doubles survive") {
    import spark.implicits._
    val path = tmp("df.xls")
    val df = Seq(("2023-01-01", Some(1.5)), ("2023-01-02", None: Option[Double]))
      .toDF("DATE", "08MF005")
    Xls.upsertSheet(path, "2023", Exports.sheetRows(df, "DATE"))
    val (h, rows) = Xls.read(path).head._2
    assert(h === Array("DATE", "08MF005"))
    assert(rows.map(_.toSeq) === Array(Seq("2023-01-01", "1.5"), Seq("2023-01-02", "")))
  }

  test("large sheet crosses the 4096-byte padding cutoff and multiple sectors") {
    val path = tmp("big.xls")
    val rows = Array.tabulate(2000)(i => Array(s"r$i", (i + 0.5).toString))
    Xls.write(path, Seq("2023" -> ((Array("k", "v"), rows))))
    val (_, back) = Xls.read(path).head._2
    assert(back.length === 2000)
    assert(back(1999).toSeq === Seq("r1999", "1999.5"))
  }

  test("reader handles Excel-authored cell records: SST/LABELSST, RK, MULRK") {
    // hand-assembled BIFF stream in the shape real Excel (or xlwt with
    // share_strings) produces and our writer never emits: an SST split
    // across a CONTINUE record mid-string, LABELSST cells, RK-packed
    // numbers (int, x100, and 30-bit-double forms) and a MULRK run.
    val bos = new java.io.ByteArrayOutputStream()
    def le(v: Int, w: Int): Unit = (0 until w).foreach(i => bos.write((v >>> (8 * i)) & 0xFF))
    def rec(tpe: Int, body: Array[Byte]): Unit = { le(tpe, 2); le(body.length, 2); bos.write(body) }
    def bof(dt: Int) = { val b = new java.io.ByteArrayOutputStream()
      Seq(0x0600, dt, 0x0DBB, 0x07CC).foreach { v => b.write(v & 0xFF); b.write((v >> 8) & 0xFF) }
      b.write(Array[Byte](0xC1.toByte, 0, 0, 0, 6, 0, 0, 0)); b.toByteArray }

    rec(0x0809, bof(0x0005))                               // BOF globals
    // SST: cstTotal=4, cstUnique=3; strings "ID", "08MF005" (split after
    // "08M" by a CONTINUE that restates the flags byte), "café" (utf16)
    val sst = new java.io.ByteArrayOutputStream()
    def le2(b: java.io.ByteArrayOutputStream, v: Int, w: Int): Unit =
      (0 until w).foreach(i => b.write((v >>> (8 * i)) & 0xFF))
    le2(sst, 4, 4); le2(sst, 3, 4)
    le2(sst, 2, 2); sst.write(0x00); sst.write("ID".getBytes("ISO-8859-1"))
    le2(sst, 7, 2); sst.write(0x00); sst.write("08M".getBytes("ISO-8859-1"))
    rec(0x00FC, sst.toByteArray)
    val cont = new java.io.ByteArrayOutputStream()
    cont.write(0x00); cont.write("F005".getBytes("ISO-8859-1"))  // restated flags
    le2(cont, 4, 2); cont.write(0x01)                             // "café" utf16
    cont.write("café".getBytes("UTF-16LE"))
    rec(0x003C, cont.toByteArray)
    // BOUNDSHEET (offset patched after globals are sized)
    val nameChars = "S1".toCharArray
    val bsBody = new java.io.ByteArrayOutputStream()
    le2(bsBody, 0, 4); le2(bsBody, 0, 2)
    bsBody.write(nameChars.length); bsBody.write(0x01)
    nameChars.foreach(c => le2(bsBody, c.toInt, 2))
    rec(0x0085, bsBody.toByteArray)
    val bsOffsetPos = bos.size() - bsBody.size()
    rec(0x000A, Array.empty)                               // EOF globals
    val sheetStart = bos.size()
    rec(0x0809, bof(0x0010))                               // BOF sheet
    def cell6(r: Int, c: Int) = { le(r, 2); le(c, 2); le(15, 2) }
    le(0x00FD, 2); le(10, 2); cell6(0, 0); le(0, 4)        // LABELSST -> "ID"
    le(0x00FD, 2); le(10, 2); cell6(1, 0); le(1, 4)        // -> "08MF005"
    le(0x00FD, 2); le(10, 2); cell6(2, 0); le(2, 4)        // -> "café"
    // RK int: 7 -> (7<<2)|2 ; RK x100 int: 1250 -> /100 = 12.5
    le(0x027E, 2); le(10, 2); cell6(0, 1); le((7 << 2) | 2, 4)
    le(0x027E, 2); le(10, 2); cell6(1, 1); le((1250 << 2) | 3, 4)
    // RK 30-bit double: high 32 bits of 1234.5's bit pattern end in 00
    val d = java.lang.Double.doubleToLongBits(1234.5)
    assert((d & 0x3FFFFFFFFL) === 0L, "fixture needs an RK-exact double")
    le(0x027E, 2); le(10, 2); cell6(2, 1); le(((d >>> 32) & 0xFFFFFFFCL).toInt, 4)
    // MULRK row 0, cols 2-3: ints 3 and 4
    le(0x00BD, 2); le(18, 2); le(0, 2); le(2, 2)
    le(15, 2); le((3 << 2) | 2, 4); le(15, 2); le((4 << 2) | 2, 4)
    le(3, 2)                                               // colLast
    rec(0x000A, Array.empty)                               // EOF sheet
    val stream = bos.toByteArray
    val bb = java.nio.ByteBuffer.wrap(stream, bsOffsetPos, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(sheetStart)

    val path = tmp("excelish.xls")
    Xls.writeCfb(path, stream)
    val back = Xls.read(path)
    assert(back.map(_._1) === Seq("S1"))
    val (h, rows) = back.head._2
    assert(h.toSeq === Seq("ID", "7.0", "3.0", "4.0"))
    assert(rows.map(_.toSeq) === Array(
      Seq("08MF005", "12.5", "", ""),
      Seq("café", "1234.5", "", "")))
  }

  test("fuzz: 30 random grids round-trip through BOTH codecs byte-exactly") {
    val rnd = new scala.util.Random(20260812L)
    val alphabets = Seq(
      "abcXYZ019 .,&<>\"'\t", "日本語中文ünïcø∂é", "-+eE.0123456789")
    def cell(): String = {
      val a = alphabets(rnd.nextInt(alphabets.length))
      (0 until rnd.nextInt(12)).map(_ => a(rnd.nextInt(a.length))).mkString
    }
    (1 to 30).foreach { trial =>
      val nc = 1 + rnd.nextInt(6)
      val nr = rnd.nextInt(8)
      val grid: Xls.Grid = (
        Array.tabulate(nc)(c => s"c$c"),
        Array.fill(nr)(Array.fill(nc)(cell())))
      val nSheets = 1 + rnd.nextInt(3)
      val sheets = (1 to nSheets).map(i => s"s$i" -> grid)
      val px = tmp(s"f$trial.xlsx"); val pb = tmp(s"f$trial.xls")
      Xlsx.write(px, sheets)
      Xls.write(pb, sheets)
      (Xlsx.read(px) zip Xls.read(pb)).zipWithIndex.foreach {
        case (((nx, (hx, rx)), (nb, (hb, rb))), si) =>
          assert(nx === s"s${si + 1}" && nb === nx, s"trial $trial sheet $si name")
          // trailing all-blank columns/rows are structurally unrepresentable
          // in sparse cell formats; this fuzz generates non-empty headers so
          // widths always survive
          assert(hx.toSeq === grid._1.toSeq, s"trial $trial xlsx header")
          assert(hb.toSeq === grid._1.toSeq, s"trial $trial xls header")
          def canon(rows: Array[Array[String]]) =
            rows.map(_.toSeq).toSeq.reverse.dropWhile(_.forall(_.isEmpty)).reverse
          assert(canon(rx) === canon(grid._2), s"trial $trial xlsx rows")
          assert(canon(rb) === canon(grid._2), s"trial $trial xls rows")
      }
    }
  }

  /** Excel-style MINI-stream container (what real Excel emits when the
    * Workbook stream is under the 4096-byte cutoff): the stream lives in
    * 64-byte mini sectors inside the root entry's stream, chained through
    * the mini-FAT. Our writer never produces this shape, so the builder
    * lives here — it exercises the reader's ministream path exactly.
    */
  private def writeMiniCfb(path: String, raw: Array[Byte]): Unit = {
    val END = 0xFFFFFFFE; val FATS = 0xFFFFFFFD; val FREE = 0xFFFFFFFF
    require(raw.length < 4096, "ministream only holds sub-cutoff streams")
    val nMini = (raw.length + 63) / 64
    val miniLen = ((nMini * 64 + 511) / 512) * 512
    val mini = java.util.Arrays.copyOf(raw, miniLen)
    val nMiniSect = miniLen / 512
    // layout: sector 0 FAT, 1 directory, 2 miniFAT, 3.. ministream
    val fat = Array.fill(128)(FREE)
    fat(0) = FATS; fat(1) = END; fat(2) = END
    (0 until nMiniSect).foreach(i =>
      fat(3 + i) = if (i == nMiniSect - 1) END else 4 + i)
    val minifat = Array.fill(128)(FREE)
    (0 until nMini).foreach(i => minifat(i) = if (i == nMini - 1) END else i + 1)
    val bb = java.nio.ByteBuffer.allocate(512 * (4 + nMiniSect))  // header + FAT + dir + miniFAT + ministream
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte))
    bb.position(24)
    bb.putShort(0x003E.toShort); bb.putShort(0x0003.toShort)
    bb.putShort(0xFFFE.toShort); bb.putShort(9); bb.putShort(6)
    bb.position(44)
    bb.putInt(1)          // nFat
    bb.putInt(1)          // first directory sector
    bb.putInt(0)
    bb.putInt(0x1000)     // ministream cutoff
    bb.putInt(2)          // first mini-FAT sector
    bb.putInt(1)          // nMiniFat
    bb.putInt(END)        // no DIFAT extension
    bb.putInt(0)
    bb.putInt(0)          // DIFAT[0] -> FAT at sector 0
    (1 until 109).foreach(_ => bb.putInt(FREE))
    fat.foreach(bb.putInt)
    bb.put(Xls.dirEntry("Root Entry", 5, 1, 3, nMini * 64))
    bb.put(Xls.dirEntry("Workbook", 2, -1, 0, raw.length))
    bb.put(Xls.dirEntry("", 0, -1, 0, 0)); bb.put(Xls.dirEntry("", 0, -1, 0, 0))
    minifat.foreach(bb.putInt)
    bb.put(mini)
    Files.write(java.nio.file.Paths.get(path), bb.array())
  }

  test("reader handles an Excel-style ministream container (sub-4096B Workbook)") {
    val grid: Xls.Grid = (Array("ID", "V"),
      Array(Array("07EA004", "1.5"), Array("08MH032", "stn")))
    val raw = Xls.workbookStream(Seq("Mini" -> grid))
    assert(raw.length < 4096, "fixture must fit the ministream")
    val path = tmp("mini.xls")
    writeMiniCfb(path, raw)
    val back = Xls.read(path)
    assert(back.map(_._1) === Seq("Mini"))
    assert(back.head._2._1 === grid._1)
    assert(back.head._2._2.map(_.toSeq) === grid._2.map(_.toSeq))
  }

  test("DIFAT extension: a workbook past the 109-header-FAT (~7 MB) round-trips") {
    val rows = Array.tabulate(60000)(i =>
      Array(s"row_${i}_padpadpadpadpadpadpadpad", s"val_${i}_padpadpadpadpadpadpadpad"))
    val grid: Xls.Grid = (Array("K", "V"), rows)
    val path = tmp("difat.xls")
    Xls.write(path, Seq("Big" -> grid))
    assert(Files.size(java.nio.file.Paths.get(path)) > 109L * 128 * 512,
      "fixture must actually exceed the header-DIFAT span")
    val (h, back) = Xls.read(path).head._2
    assert(h === grid._1)
    assert(back.length === rows.length)
    assert(back(0).toSeq === rows(0).toSeq)
    assert(back(59999).toSeq === rows(59999).toSeq)
    assert(back(31337).toSeq === rows(31337).toSeq)
  }
}
