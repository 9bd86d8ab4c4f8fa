package graft.export

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/** K4 — minimal legacy `.xls` (BIFF8-in-CFB) workbook codec.
  *
  * The reference writes FRASER/SKEENA `obsflows.xls` via xlwt/xlutils with
  * a read-copy-modify-append cycle per year sheet
  * (dischargeobs_write_xl.py:217-250). Both container (MS-CFB) and stream
  * (MS-XLS/BIFF8) formats are public Microsoft specifications; this
  * writer emits the minimal subset those products need — multi-sheet
  * workbooks of NUMBER/LABEL cells, no formatting — and the reader
  * handles those records PLUS the common externally-written cell shapes
  * (LABELSST against a parsed SST with CONTINUE support, RK, MULRK) and
  * the container shapes real Excel emits that the writer does not:
  * MINI-FAT storage (any Workbook stream under the 4096-byte cutoff —
  * i.e. every small Excel-authored file) and DIFAT extension sectors
  * (FAT past the 109 header entries, files over ~7 MB — which the writer
  * also emits when needed). So a workbook seeded by real Excel survives
  * the reference's read-copy-modify cycle
  * (dischargeobs_write_xl.py:217-250).
  * `upsertSheet` gives the reference's replace-if-exists append.
  *
  * Cell typing mirrors `Xlsx`, tightened for binary numbers: a cell is
  * written as a NUMBER only when `Double.toString(parse(v)) == v`, so
  * non-canonical numeric-looking text ("007", "1e3") stays a LABEL and
  * every grid round-trips byte-exactly.
  */
object Xls {

  type Grid = Xlsx.Grid // (header, rows) of raw strings; "" = blank

  private val ENDOFCHAIN = 0xFFFFFFFE
  private val FATSECT = 0xFFFFFFFD
  private val DIFSECT = 0xFFFFFFFC
  private val FREESECT = 0xFFFFFFFF

  private def canonicalDouble(v: String): Option[Double] = Xlsx.canonicalDouble(v)

  // ---- BIFF stream ------------------------------------------------------

  private class Biff {
    val out = new ByteArrayOutputStream()
    private def le(n: Int, width: Int): Unit = {
      var v = n; var i = 0
      while (i < width) { out.write(v & 0xFF); v >>>= 8; i += 1 }
    }
    def raw(src: Array[Byte], from: Int, len: Int): Unit =
      out.write(src, from, len)
    def record(tpe: Int, body: Array[Byte]): Unit = {
      le(tpe, 2); le(body.length, 2); out.write(body)
    }
    def pos: Int = out.size()
    def bytes: Array[Byte] = out.toByteArray
  }

  private def body(width: Int)(f: ByteBuffer => Unit): Array[Byte] = {
    val b = ByteBuffer.allocate(width).order(ByteOrder.LITTLE_ENDIAN)
    f(b)
    b.array()
  }

  private def bofBody(dt: Int): Array[Byte] = body(16) { b =>
    b.putShort(0x0600.toShort)  // BIFF8
    b.putShort(dt.toShort)      // 0x0005 globals / 0x0010 worksheet
    b.putShort(0x0DBB.toShort); b.putShort(0x07CC.toShort) // build/year
    b.putInt(0x000000C1); b.putInt(0x00000006)             // history/lowest
  }

  private def xfBody(style: Boolean): Array[Byte] = body(20) { b =>
    b.putShort(0)                                   // ifnt
    b.putShort(0)                                   // ifmt
    b.putShort((if (style) 0xFFF5 else 0x0001).toShort) // locked/style/parent
    b.put(0x20.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
    b.putInt(0); b.putInt(0)                        // borders
    b.putShort(0x20C0.toShort)                      // fill
  }

  private def sheetStream(grid: Grid): Array[Byte] = {
    val (header, rows) = grid
    val all = header +: rows.toSeq
    val ncols = all.map(_.length).maxOption.getOrElse(0)
    // hard BIFF8 sheet limits: u16 row/col indices wrap silently otherwise
    require(all.size <= 65536,
      s"BIFF8 sheets hold at most 65536 rows, got ${all.size} — split the export")
    require(ncols <= 256,
      s"BIFF8 sheets hold at most 256 columns, got $ncols — split the export")
    val s = new Biff
    s.record(0x0809, bofBody(0x0010))
    s.record(0x0200, body(14) { b =>          // DIMENSIONS
      b.putInt(0); b.putInt(all.size)
      b.putShort(0); b.putShort(ncols.toShort); b.putShort(0)
    })
    all.zipWithIndex.foreach { case (cells, r) =>
      cells.zipWithIndex.foreach { case (v, c) =>
        if (v.nonEmpty) canonicalDouble(v) match {
          case Some(d) =>
            s.record(0x0203, body(14) { b =>  // NUMBER
              b.putShort(r.toShort); b.putShort(c.toShort)
              b.putShort(15); b.putDouble(d)
            })
          case None =>
            val chars = v.toCharArray
            require(chars.length <= 255, s"LABEL cell too long (${chars.length})")
            s.record(0x0204, body(9 + 2 * chars.length) { b => // LABEL, utf16
              b.putShort(r.toShort); b.putShort(c.toShort); b.putShort(15)
              b.putShort(chars.length.toShort); b.put(0x01.toByte)
              chars.foreach(ch => b.putShort(ch.toShort))
            })
        }
      }
    }
    s.record(0x000A, Array.empty)
    s.bytes
  }

  private[export] def workbookStream(sheets: Seq[(String, Grid)]): Array[Byte] = {
    val g = new Biff
    g.record(0x0809, bofBody(0x0005))
    g.record(0x0042, body(2)(_.putShort(0x04B0.toShort)))  // CODEPAGE utf16
    g.record(0x003D, body(18) { b =>                       // WINDOW1
      b.putShort(0x0168.toShort); b.putShort(0x010E.toShort)
      b.putShort(0x3A5C.toShort); b.putShort(0x23BE.toShort)
      b.putShort(0x0038.toShort); b.putShort(0); b.putShort(0)
      b.putShort(1); b.putShort(0x0258.toShort)
    })
    g.record(0x0031, body(21) { b =>                       // FONT "Arial"
      b.putShort(200); b.putShort(0); b.putShort(0x7FFF.toShort)
      b.putShort(400); b.putShort(0)
      b.put(0.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
      b.put(5.toByte); b.put(0.toByte); "Arial".foreach(ch => b.put(ch.toByte))
    })
    (0 until 15).foreach(_ => g.record(0x00E0, xfBody(style = true)))
    g.record(0x00E0, xfBody(style = false))                // cell XF = index 15
    // BOUNDSHEET offsets are patched after the globals substream is sized
    val bsBodies = sheets.map { case (name, _) =>
      val chars = name.toCharArray
      require(chars.length <= 31, s"sheet name too long: $name")
      body(8 + 2 * chars.length) { b =>
        b.putInt(0)                                        // lbPlyPos (patched)
        b.putShort(0)                                      // visible worksheet
        b.put(chars.length.toByte); b.put(0x01.toByte)     // utf16 name
        chars.foreach(ch => b.putShort(ch.toShort))
      }
    }
    val bsPositions = bsBodies.map { bb => g.record(0x0085, bb); g.pos - bb.length }
    g.record(0x000A, Array.empty)
    val sheetBytes = sheets.map { case (_, grid) => sheetStream(grid) }
    val offsets = sheetBytes.scanLeft(g.pos)(_ + _.length).init
    val stream = g.bytes ++ sheetBytes.flatten
    bsPositions.zip(offsets).foreach { case (p, off) =>
      val b = ByteBuffer.wrap(stream, p, 4).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(off)
    }
    stream
  }

  // ---- CFB container ----------------------------------------------------

  private[export] def dirEntry(name: String, objType: Int, child: Int,
                       startSector: Int, size: Int): Array[Byte] =
    body(128) { b =>
      val chars = name.toCharArray
      chars.foreach(ch => b.putShort(ch.toShort))
      b.position(64)
      b.putShort(if (name.isEmpty) 0 else ((chars.length + 1) * 2).toShort)
      b.put(objType.toByte)
      b.put((if (objType == 0) 0 else 1).toByte)           // black
      b.putInt(-1); b.putInt(-1)                           // siblings
      b.putInt(child)
      b.position(116)
      b.putInt(startSector)
      b.putInt(size); b.putInt(0)
    }

  /** Write a BIFF8 workbook wrapped in a CFB container. The Workbook
    * stream is zero-padded to the 4096-byte regular-sector cutoff so no
    * ministream is needed (padding sits beyond the final EOF record).
    */
  def write(path: String, sheets: Seq[(String, Grid)]): Unit = {
    require(sheets.nonEmpty, "a workbook needs at least one sheet")
    writeCfb(path, workbookStream(sheets))
  }

  /** Container layer alone: wrap an already-assembled Workbook stream.
    * Split out so tests can exercise the reader against externally-shaped
    * BIFF streams (SST/RK records) this writer never emits. */
  private[export] def writeCfb(path: String, raw: Array[Byte]): Unit = {
    val size = math.max(raw.length, 4096)
    val padded = java.util.Arrays.copyOf(raw, (size + 511) / 512 * 512)
    val nStream = padded.length / 512

    // sector layout: [DIFAT-ext × nDifat][FAT × nFat][directory][stream ×
    // nStream]. FAT sectors beyond the 109 header-DIFAT entries are
    // addressed through chained DIFAT extension sectors (127 FAT refs +
    // next pointer each, per MS-CFB) — streams past ~7 MB stay writable.
    var nFat = 1
    var nDifat = 0
    def sectorsNeeded = nDifat + nFat + 1 + nStream
    while (sectorsNeeded > nFat * 128 ||
           nFat > 109 + nDifat * 127) {
      if (sectorsNeeded > nFat * 128) nFat += 1
      else nDifat += 1
    }
    val firstFat = nDifat
    val firstDir = nDifat + nFat
    val firstStream = firstDir + 1
    val fat = Array.fill((nFat * 128))(FREESECT)
    (0 until nDifat).foreach(i => fat(i) = DIFSECT)
    (0 until nFat).foreach(i => fat(firstFat + i) = FATSECT)
    fat(firstDir) = ENDOFCHAIN
    (0 until nStream).foreach { i =>
      fat(firstStream + i) = if (i == nStream - 1) ENDOFCHAIN else firstStream + i + 1
    }

    val header = body(512) { b =>
      b.put(Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte))
      b.position(24)
      b.putShort(0x003E.toShort); b.putShort(0x0003.toShort)
      b.putShort(0xFFFE.toShort)
      b.putShort(9); b.putShort(6)
      b.position(44)
      b.putInt(nFat)
      b.putInt(firstDir)
      b.putInt(0)
      b.putInt(0x1000)
      b.putInt(ENDOFCHAIN); b.putInt(0)                    // no mini FAT
      b.putInt(if (nDifat == 0) ENDOFCHAIN else 0)         // first DIFAT sector
      b.putInt(nDifat)
      (0 until 109).foreach(i => b.putInt(if (i < nFat) firstFat + i else FREESECT))
    }
    val difatExt =
      if (nDifat == 0) Array.emptyByteArray
      else body(nDifat * 512) { b =>
        (0 until nDifat).foreach { d =>
          (0 until 127).foreach { i =>
            val fi = 109 + d * 127 + i
            b.putInt(if (fi < nFat) firstFat + fi else FREESECT)
          }
          b.putInt(if (d == nDifat - 1) ENDOFCHAIN else d + 1)
        }
      }
    val dir = dirEntry("Root Entry", 5, 1, ENDOFCHAIN, 0) ++
      // the directory entry records the TRUE stream length (floored at
      // the 4096 ministream cutoff, which write() zero-fills to stay in
      // regular-FAT storage): sector padding is a container detail, and
      // recording it as stream bytes hands every reader trailing
      // 0x0000 pseudo-records after the last sheet's EOF
      dirEntry("Workbook", 2, -1, firstStream, size) ++
      dirEntry("", 0, -1, 0, 0) ++ dirEntry("", 0, -1, 0, 0)

    val fatBytes = body(nFat * 512)(b => fat.foreach(b.putInt))
    Exports.replaceFile(path) { out =>
      out.write(header)
      out.write(difatExt)
      out.write(fatBytes)
      out.write(dir)
      out.write(padded)
    }
  }

  /** Replace-if-exists append via record-level SPLICE — the reference's
    * xlutils `copy` cycle (dischargeobs_write_xl.py:226-233) preserves
    * the formatting of pre-existing sheets, so this does too: only the
    * TARGET sheet's substream is regenerated; every other byte of the
    * workbook stream — globals with their FONT/FORMAT/XF tables, other
    * sheets' records, including record types this codec never emits —
    * passes through untouched, with just the BOUNDSHEET lbPlyPos
    * offsets re-pointed (and, on append, one BOUNDSHEET record inserted
    * before the globals EOF). XlsSpec pins byte-identity of the
    * untouched regions on a foreign-record workbook.
    */
  /** Rebuild one worksheet substream with the new grid's VALUES while
    * PRESERVING the sheet's formatting — the xlutils-`copy` parity the
    * reference relies on (`dischargeobs_write_xl.py:226-233`: re-open,
    * write values, keep appearance). Three preservation channels:
    *
    *  1. Non-cell records pass through byte-identically in their original
    *     order (COLINFO column widths, ROW heights/flags, MERGEDCELLS,
    *     WINDOW2 panes, DEFAULTROWHEIGHT, …) — only DIMENSIONS is
    *     rewritten (new bounds) and the cell table replaced.
    *  2. Every old cell's ixfe (its index into the workbook-globals XF
    *     table, which upsertSheet's splice leaves untouched) is re-applied
    *     to the new value written at that position, so number formats,
    *     fills, borders and fonts stay with their cells.
    *  3. Formatted cells the new grid leaves EMPTY are re-emitted as
    *     BLANK records carrying their old ixfe — a cleared value keeps its
    *     cell's appearance, exactly as a values-write over a styled
    *     template behaves in the reference.
    *
    * Replace semantics otherwise: formulas and old values not present in
    * the new grid are dropped (the reference also writes values, not
    * formulas). LABELSST cells are rewritten as inline LABELs; their SST
    * entries in the globals become unreferenced, which BIFF8 permits.
    */
  private[export] def mergeSheetStream(s: Array[Byte], off: Int, end: Int,
                                       grid: Grid): Array[Byte] = {
    val (header, rows) = grid
    val all = header +: rows.toSeq
    val ncols = all.map(_.length).maxOption.getOrElse(0)
    require(all.size <= 65536,
      s"BIFF8 sheets hold at most 65536 rows, got ${all.size} — split the export")
    require(ncols <= 256,
      s"BIFF8 sheets hold at most 256 columns, got $ncols — split the export")
    // pass 1: harvest per-cell ixfe from the old cell table
    val oldXf = scala.collection.mutable.Map.empty[(Int, Int), Int]
    var p = off
    var eofAt = -1
    while (eofAt < 0 && p + 4 <= s.length && p < end) {
      val t = u16(s, p); val len = u16(s, p + 2); val b = p + 4
      t match {
        // (row, col, ixfe)-headed single-cell records: NUMBER, LABEL,
        // LABELSST, BLANK, BOOLERR, FORMULA, RSTRING, RK
        case 0x0203 | 0x0204 | 0x00FD | 0x0201 | 0x0205 | 0x0006 | 0x00D6 |
             0x027E =>
          oldXf((u16(s, b), u16(s, b + 2))) = u16(s, b + 4)
        case 0x00BD =>                                     // MULRK
          val row = u16(s, b); val c0 = u16(s, b + 2)
          (0 until (len - 6) / 6).foreach { i =>
            oldXf((row, c0 + i)) = u16(s, b + 4 + 6 * i)
          }
        case 0x00BE =>                                     // MULBLANK
          val row = u16(s, b); val c0 = u16(s, b + 2)
          (0 until (len - 6) / 2).foreach { i =>
            oldXf((row, c0 + i)) = u16(s, b + 4 + 2 * i)
          }
        case _ => ()
      }
      if (t == 0x000A) eofAt = p else p = b + len
    }
    require(eofAt >= 0, "worksheet substream has no EOF record")
    def newVal(r: Int, c: Int): String =
      if (r < all.size && c < all(r).length) all(r)(c) else ""
    // formatted old cells the new grid leaves empty → BLANK with old ixfe
    val keepBlank = oldXf.iterator.collect {
      case ((r, c), xf) if xf != 15 && newVal(r, c).isEmpty => (r, c)
    }.toSet
    val maxR = (all.indices ++ keepBlank.map(_._1)).maxOption.getOrElse(0)
    val maxC = ((if (ncols > 0) Seq(ncols - 1) else Seq(0)) ++
      keepBlank.map(_._2)).max
    val outB = new Biff
    var cellsEmitted = false
    def emitCellTable(): Unit = {
      if (cellsEmitted) return
      cellsEmitted = true
      (0 to maxR).foreach { r =>
        (0 to maxC).foreach { c =>
          val v = newVal(r, c)
          val xf = oldXf.getOrElse((r, c), 15)
          if (v.nonEmpty) canonicalDouble(v) match {
            case Some(d) =>
              outB.record(0x0203, body(14) { b =>        // NUMBER
                b.putShort(r.toShort); b.putShort(c.toShort)
                b.putShort(xf.toShort); b.putDouble(d)
              })
            case None =>
              val chars = v.toCharArray
              require(chars.length <= 255, s"LABEL cell too long (${chars.length})")
              outB.record(0x0204, body(9 + 2 * chars.length) { b => // LABEL
                b.putShort(r.toShort); b.putShort(c.toShort)
                b.putShort(xf.toShort)
                b.putShort(chars.length.toShort); b.put(0x01.toByte)
                chars.foreach(ch => b.putShort(ch.toShort))
              })
          }
          else if (keepBlank((r, c)))
            outB.record(0x0201, body(6) { b =>           // BLANK, old ixfe
              b.putShort(r.toShort); b.putShort(c.toShort)
              b.putShort(xf.toShort)
            })
        }
      }
    }
    // pass 2: pass records through, swapping the cell table in place
    p = off
    var prevSkipped = false
    while (p <= eofAt) {
      val t = u16(s, p); val len = u16(s, p + 2)
      t match {
        case 0x0200 =>                                    // DIMENSIONS
          outB.record(0x0200, body(14) { b =>
            b.putInt(0); b.putInt(maxR + 1)
            b.putShort(0); b.putShort((maxC + 1).toShort); b.putShort(0)
          })
          prevSkipped = false
        case 0x0203 | 0x0204 | 0x00FD | 0x0201 | 0x0205 | 0x0006 | 0x00D6 |
             0x027E | 0x00BD | 0x00BE | 0x0207 =>
          // cell table (0x0207 = a FORMULA's cached STRING result)
          emitCellTable()
          prevSkipped = true
        case 0x020B | 0x00D7 =>
          // INDEX / DBCELL carry stream OFFSETS into the old cell table;
          // passed through they would point into the rewritten one —
          // both are optional lookup accelerators, so drop them and let
          // readers parse sequentially (our own writer never emits them)
          prevSkipped = false
        case 0x003C if prevSkipped =>
          // CONTINUE extending a skipped cell record travels with it
          ()
        case 0x000A =>
          emitCellTable()
          outB.record(0x000A, Array.empty)
          prevSkipped = false
        case _ =>
          outB.raw(s, p, 4 + len)
          prevSkipped = false
      }
      p += 4 + len
    }
    outB.bytes
  }

  def upsertSheet(path: String, name: String, grid: Grid): Unit = {
    if (!new java.io.File(path).exists()) { write(path, Seq(name -> grid)); return }
    val s = readWorkbookStream(path)
    // globals walk: BOUNDSHEET (lbPlyPos field position, name, offset)
    // and the position of the globals EOF record
    var p = 0
    val bs = Seq.newBuilder[(Int, String, Int)]
    var eofPos = -1
    while (eofPos < 0 && p + 4 <= s.length) {
      val tpe = u16(s, p); val len = u16(s, p + 2)
      if (tpe == 0x0085) {
        val off = i32(s, p + 4)
        val cch = s(p + 10) & 0xFF
        val hi = (s(p + 11) & 0x01) == 1
        val nm =
          if (hi) new String(s, p + 12, cch * 2, "UTF-16LE")
          else new String(s, p + 12, cch, "ISO-8859-1")
        bs += ((p + 4, nm, off))
      }
      if (tpe == 0x000A) eofPos = p else p += 4 + len
    }
    require(eofPos >= 0, s"$path: workbook globals have no EOF record")
    val sheets = bs.result()
    def putI32(a: Array[Byte], pos: Int, v: Int): Unit =
      ByteBuffer.wrap(a, pos, 4).order(ByteOrder.LITTLE_ENDIAN).putInt(v)
    // the stream as stored may carry zero-fill up to the 4096 ministream
    // cutoff; splice against the TRUE record extent (globals EOF + one
    // EOF per sheet) or the append path would park the new substream
    // behind a run of 0x0000 pseudo-records
    val sEnd = {
      var q = 0; var eofs = 0
      while (eofs <= sheets.length && q + 4 <= s.length) {
        if (u16(s, q) == 0x000A) eofs += 1
        q += 4 + u16(s, q + 2)
      }
      q
    }
    val out = sheets.find(_._2 == name) match {
      case Some((_, _, off)) =>
        // substreams are contiguous and lbPlyPos-ordered: this one ends
        // where the next begins (or at stream end). Rebuild THROUGH the
        // old substream (mergeSheetStream) so the sheet's formatting —
        // per-cell XF, column widths, row heights, merged ranges —
        // survives the values rewrite.
        val end = sheets.map(_._3).filter(_ > off).minOption.getOrElse(sEnd)
        val newSub = mergeSheetStream(s, off, end, grid)
        val delta = newSub.length - (end - off)
        val spliced = s.take(off) ++ newSub ++ s.slice(end, sEnd)
        sheets.foreach { case (fp, _, o) =>
          if (o > off) putI32(spliced, fp, o + delta)
        }
        spliced
      case None =>
        // append: the inserted BOUNDSHEET grows the globals, shifting
        // every existing substream by its record length; the new
        // substream lands at the grown stream's end. lbPlyPos fields all
        // precede the globals EOF, so their positions don't move.
        val chars = name.toCharArray
        require(chars.length <= 31, s"sheet name too long: $name")
        val g = new Biff
        g.record(0x0085, body(8 + 2 * chars.length) { b =>
          b.putInt(0)                                  // patched below
          b.putShort(0)                                // visible worksheet
          b.put(chars.length.toByte); b.put(0x01.toByte)
          chars.foreach(ch => b.putShort(ch.toShort))
        })
        val rec = g.bytes
        val spliced = s.take(eofPos) ++ rec ++ s.slice(eofPos, sEnd) ++
          sheetStream(grid)
        putI32(spliced, eofPos + 4, sEnd + rec.length)
        sheets.foreach { case (fp, _, o) => putI32(spliced, fp, o + rec.length) }
        spliced
    }
    writeCfb(path, out)
  }

  // ---- reader (self-written subset + descriptive rejects) ---------------

  private def u16(a: Array[Byte], p: Int): Int =
    (a(p) & 0xFF) | ((a(p + 1) & 0xFF) << 8)
  private def i32(a: Array[Byte], p: Int): Int =
    u16(a, p) | (u16(a, p + 2) << 16)

  /** Full CFB stream extraction per the public MS-CFB spec: header DIFAT
    * plus chained DIFAT extension sectors (files whose FAT outgrows the
    * 109 header entries, i.e. > ~7 MB), and MINI-FAT streams (real Excel
    * stores any stream under the 4096-byte cutoff in the ministream —
    * the Workbook stream of a small Excel-authored file always lands
    * there; our own writer pads past the cutoff instead).
    */
  private[export] def readWorkbookStream(path: String): Array[Byte] = {
    val all = Files.readAllBytes(Paths.get(path))
    require(all.length >= 512 && (all(0) & 0xFF) == 0xD0 && (all(1) & 0xFF) == 0xCF,
      s"$path is not a CFB file")
    val nFat = i32(all, 44)
    val firstDir = i32(all, 48)
    val miniCutoff = i32(all, 56)
    val firstMiniFat = i32(all, 60)
    val nMiniFat = i32(all, 64)
    val firstDifat = i32(all, 68)
    val nDifat = i32(all, 72)
    // header DIFAT (109 entries) + DIFAT extension chain (127 entries +
    // next pointer per 512-byte sector)
    val difat = Seq.newBuilder[Int]
    (0 until math.min(nFat, 109)).foreach(i => difat += i32(all, 76 + 4 * i))
    var ds = firstDifat
    var remaining = nFat - 109
    var dGuard = 0
    while (remaining > 0 && ds != ENDOFCHAIN && ds != FREESECT && dGuard <= nDifat) {
      val base = 512 + ds * 512
      (0 until math.min(remaining, 127)).foreach(i => difat += i32(all, base + 4 * i))
      remaining -= 127
      ds = i32(all, base + 4 * 127)
      dGuard += 1
    }
    val fat = difat.result().flatMap { s =>
      val base = 512 + s * 512
      (0 until 128).map(i => i32(all, base + 4 * i))
    }.toArray
    def chain(start: Int): Seq[Int] = {
      val b = Seq.newBuilder[Int]
      var s = start
      var guard = 0
      while (s != ENDOFCHAIN && s != FREESECT && guard < fat.length + 1) {
        b += s; s = fat(s); guard += 1
      }
      b.result()
    }
    def sectorBytes(sectors: Seq[Int]): Array[Byte] = sectors.flatMap { s =>
      all.slice(512 + s * 512, 512 + (s + 1) * 512)
    }.toArray
    val dirBytes = sectorBytes(chain(firstDir))
    val entries = dirBytes.grouped(128).toSeq
    val wb = entries.find { e =>
      val len = u16(e, 64)
      len > 2 && new String(e, 0, len - 2, "UTF-16LE") == "Workbook"
    }.getOrElse(throw new IllegalArgumentException(s"$path: no Workbook stream"))
    val start = i32(wb, 116)
    val size = i32(wb, 120)
    if (size >= miniCutoff) {
      sectorBytes(chain(start)).take(size)
    } else {
      // ministream: the stream's start is a MINI-sector index; mini
      // sectors are 64-byte slices of the ROOT entry's regular stream,
      // chained through the mini-FAT (itself a regular FAT chain)
      val root = entries.find(e => (e(66) & 0xFF) == 5).getOrElse(
        throw new IllegalArgumentException(s"$path: no root directory entry"))
      val ministream = sectorBytes(chain(i32(root, 116)))
      val miniFat = sectorBytes(chain(firstMiniFat).take(nMiniFat))
      def miniEntry(i: Int): Int = i32(miniFat, 4 * i)
      val b = Seq.newBuilder[Int]
      var ms = start
      var guard = 0
      while (ms != ENDOFCHAIN && ms != FREESECT && guard < miniFat.length / 4 + 1) {
        b += ms; ms = miniEntry(ms); guard += 1
      }
      b.result().flatMap { s =>
        ministream.slice(64 * s, 64 * (s + 1))
      }.take(size).toArray
    }
  }

  /** Read every sheet of a workbook this codec wrote — plus the common
    * externally-written cell records (LABELSST against a parsed SST, RK,
    * MULRK), so an Excel-authored seed workbook survives the reference's
    * read-copy-modify cycle instead of erroring.
    */
  def read(path: String): Seq[(String, Grid)] = {
    val s = readWorkbookStream(path)
    // globals pass: BOUNDSHEET names + substream offsets; SST segments
    var p = 0
    val bounds = Seq.newBuilder[(String, Int)]
    val sstSegs = IndexedSeq.newBuilder[(Int, Int)]   // (bodyStart, bodyLen)
    var lastWasSst = false
    var inGlobals = true
    while (inGlobals && p + 4 <= s.length) {
      val tpe = u16(s, p); val len = u16(s, p + 2)
      if (tpe == 0x0085) {
        val off = i32(s, p + 4)
        val cch = s(p + 10) & 0xFF
        val hi = (s(p + 11) & 0x01) == 1
        val name =
          if (hi) new String(s, p + 12, cch * 2, "UTF-16LE")
          else new String(s, p + 12, cch, "ISO-8859-1")
        bounds += (name -> off)
      }
      if (tpe == 0x00FC) { sstSegs += ((p + 4, len)); lastWasSst = true }
      else if (tpe == 0x003C && lastWasSst) sstSegs += ((p + 4, len))
      else lastWasSst = false
      if (tpe == 0x000A) inGlobals = false else p += 4 + len
    }
    val sst = parseSst(s, sstSegs.result())
    bounds.result().map { case (name, off) => name -> sheetAt(s, off, sst) }
  }

  /** Parse the SST record (+ its CONTINUE records) into the shared-string
    * table (MS-XLS 2.4.265 / XLUnicodeRichExtendedString 2.5.293). Strings
    * may split across CONTINUE boundaries at character granularity; each
    * continuation restates the fHighByte flags byte. Formatting runs and
    * Ext data are skipped — cell text is what the engine consumes.
    */
  private def parseSst(s: Array[Byte], segs: IndexedSeq[(Int, Int)]): IndexedSeq[String] = {
    if (segs.isEmpty) return IndexedSeq.empty
    var si = 0
    var off = segs(0)._1
    def segEnd: Int = segs(si)._1 + segs(si)._2
    def ensure(): Unit =                 // advance past exhausted segments
      while (off >= segEnd && si < segs.length - 1) { si += 1; off = segs(si)._1 }
    def u8v(): Int = { ensure(); val v = s(off) & 0xFF; off += 1; v }
    def u16v(): Int = { ensure(); val v = u16(s, off); off += 2; v }
    def i32v(): Int = { ensure(); val v = i32(s, off); off += 4; v }
    def skip(n: Int): Unit = {           // may span segments
      var left = n
      while (left > 0) { ensure(); val t = math.min(left, segEnd - off); off += t; left -= t }
    }
    off += 4                             // cstTotal
    val unique = i32v()
    (0 until unique).map { _ =>
      val cch = u16v()
      val flags = u8v()
      var high = (flags & 0x01) == 1
      val cRun = if ((flags & 0x08) != 0) u16v() else 0
      val cbExt = if ((flags & 0x04) != 0) i32v() else 0
      val sb = new StringBuilder
      var left = cch
      while (left > 0) {
        if (off >= segEnd && si < segs.length - 1) {
          // crossing into a CONTINUE: its first byte restates fHighByte
          si += 1; off = segs(si)._1
          high = (u8v() & 0x01) == 1
        }
        val charBytes = if (high) 2 else 1
        val take = math.min(left, (segEnd - off) / charBytes)
        require(take > 0, "malformed SST: no character data before segment end")
        sb.append(new String(s, off, take * charBytes,
          if (high) "UTF-16LE" else "ISO-8859-1"))
        off += take * charBytes
        left -= take
      }
      skip(4 * cRun + cbExt)
      sb.toString
    }
  }

  /** RK-packed number (MS-XLS 2.5.217): 30-bit payload + fX100/fInt flags.
    * fInt ⇒ payload is a signed int; else payload is the high 30 bits of a
    * double's bit pattern; fX100 divides either by 100.
    */
  private def rkValue(rk: Int): Double = {
    val v =
      if ((rk & 0x02) != 0) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    if ((rk & 0x01) != 0) v / 100.0 else v
  }

  private def sheetAt(s: Array[Byte], off: Int, sst: IndexedSeq[String]): Grid = {
    var p = off
    val cells = scala.collection.mutable.Map.empty[(Int, Int), String]
    var done = false
    while (!done && p + 4 <= s.length) {
      val tpe = u16(s, p); val len = u16(s, p + 2); val b = p + 4
      tpe match {
        case 0x0203 =>
          val d = ByteBuffer.wrap(s, b + 6, 8).order(ByteOrder.LITTLE_ENDIAN).getDouble
          cells((u16(s, b), u16(s, b + 2))) = java.lang.Double.toString(d)
        case 0x0204 =>
          val cch = u16(s, b + 6)
          val hi = (s(b + 8) & 0x01) == 1
          cells((u16(s, b), u16(s, b + 2))) =
            if (hi) new String(s, b + 9, cch * 2, "UTF-16LE")
            else new String(s, b + 9, cch, "ISO-8859-1")
        case 0x00FD =>                                     // LABELSST
          val isst = i32(s, b + 6)
          require(isst >= 0 && isst < sst.length,
            s"LABELSST index $isst outside SST (${sst.length} strings)")
          cells((u16(s, b), u16(s, b + 2))) = sst(isst)
        case 0x027E =>                                     // RK
          cells((u16(s, b), u16(s, b + 2))) =
            java.lang.Double.toString(rkValue(i32(s, b + 6)))
        case 0x00BD =>                                     // MULRK
          val row = u16(s, b); val colFirst = u16(s, b + 2)
          val n = (len - 6) / 6                            // (ixfe, rk) runs
          (0 until n).foreach { i =>
            cells((row, colFirst + i)) =
              java.lang.Double.toString(rkValue(i32(s, b + 6 + 6 * i)))
          }
        case 0x000A => done = true
        case _ => ()
      }
      p = b + len
    }
    if (cells.isEmpty) (Array.empty[String], Array.empty[Array[String]])
    else {
      val nr = cells.keys.map(_._1).max + 1
      val nc = cells.keys.map(_._2).max + 1
      val grid = Array.tabulate(nr, nc)((r, c) => cells.getOrElse((r, c), ""))
      (grid.head, grid.tail)
    }
  }
}
