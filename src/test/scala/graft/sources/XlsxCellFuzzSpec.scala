package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.util.Random

import graft.SparkSpec

/** Randomized differential for the XLSX typed-cell grid parser: sheets
  * are generated from a structural model — shared-string refs, inline
  * strings (empty → null), booleans, cached formula strings, untyped
  * numerics, value-less cells, sparse cells with explicit addresses,
  * sparse rows with gap-leaving explicit indices, and random skipRows —
  * and the expected framed grid derives from the model before any XML
  * exists. Exercises the shared-string table, the r-attribute honoring
  * rules for rows and cells, gap filling, max-width padding, and the
  * skipRows drop together. Seeds are pinned so every trial reproduces.
  */
class XlsxCellFuzzSpec extends SparkSpec {

  private val nsMain = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val nsRel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
  private val nsPkgRel = "http://schemas.openxmlformats.org/package/2006/relationships"

  private def zip(parts: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    parts.foreach { case (name, bytes) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(bytes)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  private def colLetters(idx: Int): String = {
    var i = idx + 1
    val sb = new StringBuilder
    while (i > 0) { sb.insert(0, ('A' + (i - 1) % 26).toChar); i = (i - 1) / 26 }
    sb.toString
  }

  /** (xmlFragment, expectedValue) for one cell at 0-based (row, col). */
  private def randCell(rnd: Random, shared: IndexedSeq[String],
      row: Int, colIdx: Int, explicitRef: Boolean): (String, String) = {
    val ref = if (explicitRef) s""" r="${colLetters(colIdx)}${row + 1}"""" else ""
    rnd.nextInt(7) match {
      case 0 => // shared string
        val i = rnd.nextInt(shared.size)
        (s"""<c$ref t="s"><v>$i</v></c>""", shared(i))
      case 1 => // inline string, sometimes empty -> null
        val s = if (rnd.nextInt(4) == 0) "" else s"in${rnd.nextInt(9)}"
        (s"""<c$ref t="inlineStr"><is><t>$s</t></is></c>""",
          if (s.isEmpty) null else s)
      case 2 => // boolean
        val b = rnd.nextInt(3) // 0, 1, "true"
        val raw = if (b == 2) "true" else b.toString
        (s"""<c$ref t="b"><v>$raw</v></c>""",
          if (raw == "1" || raw == "true") "true" else "false")
      case 3 => // cached formula string
        val s = s"f${rnd.nextInt(9)}"
        (s"""<c$ref t="str"><f>A1&amp;B1</f><v>$s</v></c>""", s)
      case 4 => // untyped numeric
        val n = s"${rnd.nextInt(100)}.${rnd.nextInt(10)}"
        (s"""<c$ref><v>$n</v></c>""", n)
      case 5 => // value-less cell -> null
        (s"""<c$ref/>""", null)
      case _ => // typed shared with multi-run text already joined in sst
        val i = rnd.nextInt(shared.size)
        (s"""<c$ref t="s"><v>$i</v></c>""", shared(i))
    }
  }

  test("fuzz: parseRows matches the structural grid model") {
    for (trial <- 0 until 6) {
      val rnd = new Random(17800 + trial)
      val shared = IndexedSeq("Рег. №", "a b", "x", s"s${rnd.nextInt(9)}")
      val sharedXml =
        s"""<sst xmlns="$nsMain" count="${shared.size}" uniqueCount="${shared.size}">""" +
          shared.map(s => s"<si><t>$s</t></si>").mkString + "</sst>"

      val width = 2 + rnd.nextInt(4)
      val grid = scala.collection.mutable.Map[(Int, Int), String]()
      // the frame is sized by every PRESENT cell, null-valued included
      val present = scala.collection.mutable.Set[(Int, Int)]()
      val xmlRows = Vector.newBuilder[String]
      var nextExplicit = 0 // 0-based row index for explicit-r rows
      var xmlPos = 0       // XML position: the index a r-less row gets
      val nRows = 1 + rnd.nextInt(7)
      (0 until nRows).foreach { _ =>
        val explicitRow = rnd.nextInt(2) == 0
        val rowIdx =
          if (explicitRow) {
            nextExplicit = math.max(nextExplicit, xmlPos) + rnd.nextInt(3)
            nextExplicit
          } else xmlPos
        val rAttr = if (explicitRow) s""" r="${rowIdx + 1}"""" else ""
        // sparse explicit cells or dense sequential cells, never mixed
        // within a row (a sequential cell after a sparse one would
        // collide by design — the parser's cSeq rule)
        val explicitCells = rnd.nextBoolean()
        val cols =
          if (explicitCells)
            rnd.shuffle((0 until width).toVector).take(1 + rnd.nextInt(width)).sorted
          else (0 until 1 + rnd.nextInt(width)).toVector
        val cellXml = cols.map { c =>
          val (x, v) = randCell(rnd, shared, rowIdx, c, explicitCells)
          present += ((rowIdx, c))
          if (v != null) grid((rowIdx, c)) = v else grid.remove((rowIdx, c))
          x
        }.mkString
        xmlRows += s"<row$rAttr>$cellXml</row>"
        xmlPos += 1
        nextExplicit = math.max(nextExplicit, rowIdx)
      }
      val skipRows = rnd.nextInt(3)
      val sheetXml =
        s"""<worksheet xmlns="$nsMain" xmlns:r="$nsRel"><sheetData>""" +
          xmlRows.result().mkString + "</sheetData></worksheet>"
      val workbookXml =
        s"""<workbook xmlns="$nsMain" xmlns:r="$nsRel"><sheets>
          |<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
      val workbookRels =
        s"""<Relationships xmlns="$nsPkgRel">
          |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>
          |</Relationships>""".stripMargin
      val bytes = zip(Seq(
        "xl/workbook.xml" -> workbookXml.getBytes(UTF_8),
        "xl/_rels/workbook.xml.rels" -> workbookRels.getBytes(UTF_8),
        "xl/sharedStrings.xml" -> sharedXml.getBytes(UTF_8),
        "xl/worksheets/sheet1.xml" -> sheetXml.getBytes(UTF_8)))

      val got = Xlsx.parseRows(bytes, skipRows)
      val gWidth = if (present.isEmpty) 0 else present.map(_._2).max + 1
      val gMax = if (present.isEmpty) -1 else present.map(_._1).max
      val want = (0 to gMax).map { r =>
        (0 until gWidth).map(c => grid.getOrElse((r, c), null)).toVector
      }.toVector.drop(skipRows)
      assert(got == want,
        s"trial $trial (skip=$skipRows):\n got=$got\nwant=$want")
    }
  }
}
