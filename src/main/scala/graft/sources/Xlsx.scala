package graft.sources

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

import scala.collection.mutable
import scala.xml.{Elem, XML}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Native XLSX byte parsing — S4 (sheet scan + skip_rows) and S5
  * (embedded-image extraction with anchor snap) at true byte-level parity
  * with the reference (handlers/belarus.py:106-110 calamine scan,
  * handlers/base.py:200-254 openpyxl `sheet._images` walk), without POI:
  * an XLSX file is a zip of small XML parts, and `java.util.zip` +
  * `scala.xml` are already on the classpath.
  *
  * Scale shape: ONE registry workbook is a driver-side artifact by nature
  * (the reference fetches a single file per source), so `read` parses on
  * the driver and hands Spark a small DataFrame — same altitude as
  * `ShapeOps.promoteHeader`'s single-row collect. The corpus-scale form is
  * [[readFiles]]: `binaryFile` scan → per-task parse, one task per
  * workbook, no driver involvement.
  *
  * Parsing semantics (deliberately minimal, matching what the reference's
  * readers actually consume):
  *  - shared strings (`t="s"`), inline strings (`t="inlineStr"`), formula
  *    strings (`t="str"`) and raw numeric/date text are all surfaced as
  *    the literal cell text — no float re-formatting (the engine casts
  *    all-to-string downstream anyway, P8);
  *  - booleans (`t="b"`) map to "true"/"false";
  *  - missing cells inside a row and short rows pad to the sheet's max
  *    width with null, the ragged-row contract `ShapeOps.unionAll`
  *    backfills (P6);
  *  - `skipRows` drops leading sheet rows BEFORE the grid is framed —
  *    calamine's `read_options={"skip_rows": n}`.
  */
object Xlsx {

  /** One embedded image with its openpyxl-equivalent anchor:
    * `anchorRow`/`anchorCol` are the 0-based `xdr:from` cell,
    * `rowOffEmu` the intra-cell offset the reference's >10000 EMU snap
    * heuristic reads (handlers/base.py:233-239).
    */
  final case class ImageAnchor(
      anchorRow: Long, anchorCol: Long, rowOffEmu: Long, colOffEmu: Long,
      order: Long, mime: String, payload: Array[Byte])

  // ------------------------------------------------------------- zip layer

  private def entries(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = mutable.Map[String, Array[Byte]]()
    var e = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory) out(e.getName) = zin.readAllBytes()
      zin.closeEntry()
      e = zin.getNextEntry
    }
    out.toMap
  }

  private def xml(parts: Map[String, Array[Byte]], name: String): Option[Elem] =
    parts.get(name).map(b => XML.load(new ByteArrayInputStream(b)))

  /** `_rels/x.rels` relationship map: rId → target resolved against the
    * owning part's directory ("../media/image1.png" → "xl/media/image1.png").
    */
  private def rels(parts: Map[String, Array[Byte]], partPath: String): Map[String, String] = {
    val dir = partPath.substring(0, partPath.lastIndexOf('/'))
    val relPath = s"$dir/_rels/${partPath.substring(partPath.lastIndexOf('/') + 1)}.rels"
    xml(parts, relPath).toSeq.flatMap { e =>
      (e \\ "Relationship").map { r =>
        val target = (r \@ "Target").split('/')
          .foldLeft(dir.split('/').toVector) {
            case (acc, "..") => acc.dropRight(1)
            case (acc, ".") => acc
            case (acc, seg) => acc :+ seg
          }.mkString("/")
        (r \@ "Id") -> target
      }
    }.toMap
  }

  // ------------------------------------------------------------ grid parse

  /** "C5" → 0-based column index 2. */
  private[sources] def colIndex(cellRef: String): Int = {
    val letters = cellRef.takeWhile(_.isLetter)
    letters.foldLeft(0)((acc, ch) => acc * 26 + (ch.toUpper - 'A' + 1)) - 1
  }

  private def sheetPath(parts: Map[String, Array[Byte]], sheetIndex: Int): String = {
    val wb = xml(parts, "xl/workbook.xml")
      .getOrElse(throw new IllegalArgumentException("not an XLSX: no xl/workbook.xml"))
    val sheets = (wb \\ "sheet")
    require(sheetIndex >= 0 && sheetIndex < sheets.size,
      s"sheet index $sheetIndex out of range (${sheets.size} sheets)")
    val rid = sheets(sheetIndex).attributes.collectFirst {
      case a if a.key == "id" => a.value.text // r:id — namespace-insensitive
    }.getOrElse(throw new IllegalArgumentException("sheet has no r:id"))
    rels(parts, "xl/workbook.xml").getOrElse(rid,
      throw new IllegalArgumentException(s"workbook rels missing $rid"))
  }

  /** The raw cell grid: rows in sheet order, each padded to the max row
    * width with null; `skipRows` leading rows dropped.
    */
  def parseRows(bytes: Array[Byte], skipRows: Int = 0, sheetIndex: Int = 0): Vector[Vector[String]] = {
    val parts = entries(bytes)
    val shared: IndexedSeq[String] = xml(parts, "xl/sharedStrings.xml").toSeq
      .flatMap(e => (e \ "si").map(si => (si \\ "t").map(_.text).mkString))
      .toIndexedSeq
    val sheet = xml(parts, sheetPath(parts, sheetIndex))
      .getOrElse(throw new IllegalArgumentException("sheet part missing"))

    val rows = (sheet \ "sheetData" \ "row").zipWithIndex.map { case (rowEl, seq) =>
      // Sparse rows: honor r="..." (1-based) when present, else sequential.
      val rowIdx = Option(rowEl \@ "r").filter(_.nonEmpty).map(_.toInt - 1).getOrElse(seq)
      val cells = (rowEl \ "c").zipWithIndex.map { case (c, cSeq) =>
        val idx = Option(c \@ "r").filter(_.nonEmpty).map(colIndex).getOrElse(cSeq)
        val v = (c \ "v").headOption.map(_.text)
        val value = (c \@ "t") match {
          case "s" => v.map(s => shared(s.toInt)).orNull
          case "inlineStr" => (c \ "is" \\ "t").map(_.text).mkString match {
            case "" => null; case s => s
          }
          case "b" => v.map(b => if (b == "1" || b == "true") "true" else "false").orNull
          case _ => v.orNull // "str", "n", untyped numeric/date
        }
        idx -> value
      }
      rowIdx -> cells
    }
    // Frame the grid: fill sparse row gaps with empty rows, pad to max width.
    val width = rows.iterator.flatMap(_._2.map(_._1)).maxOption.getOrElse(-1) + 1
    val maxRow = rows.iterator.map(_._1).maxOption.getOrElse(-1)
    val grid = Array.fill[String](maxRow + 1, width)(null)
    rows.foreach { case (r, cells) =>
      cells.foreach { case (ci, v) => if (ci < width) grid(r)(ci) = v }
    }
    grid.iterator.drop(skipRows).map(_.toVector).toVector
  }

  /** Embedded images of the sheet's drawing part, in drawing-document
    * order — the openpyxl `sheet._images` walk (handlers/base.py:224-249):
    * anchor from `xdr:from` (row/col/rowOff/colOff), payload via the
    * drawing rels' `r:embed` → `xl/media/ * `.
    */
  def parseImages(bytes: Array[Byte], sheetIndex: Int = 0): Vector[ImageAnchor] = {
    val parts = entries(bytes)
    val sp = sheetPath(parts, sheetIndex)
    val drawingPaths: Seq[String] = {
      val sheetRels = rels(parts, sp)
      xml(parts, sp).toSeq.flatMap(e => (e \ "drawing").flatMap { d =>
        d.attributes.collectFirst { case a if a.key == "id" => a.value.text }
          .flatMap(sheetRels.get)
      }) match {
        case Nil => parts.keys.filter(_.matches("xl/drawings/drawing\\d+\\.xml")).toSeq.sorted
        case found => found
      }
    }
    drawingPaths.flatMap { dp =>
      val mediaByRid = rels(parts, dp)
      xml(parts, dp).toSeq.flatMap { drawing =>
        val anchors = (drawing \ "twoCellAnchor") ++ (drawing \ "oneCellAnchor")
        anchors.flatMap { a =>
          val from = (a \ "from").headOption
          val embed = (a \\ "blip").flatMap(_.attributes.collectFirst {
            case at if at.key == "embed" => at.value.text
          }).headOption
          for {
            f <- from
            rid <- embed
            media <- mediaByRid.get(rid)
            payload <- parts.get(media)
          } yield {
            def n(tag: String) = (f \ tag).headOption.map(_.text.trim.toLong).getOrElse(0L)
            ImageAnchor(n("row"), n("col"), n("rowOff"), n("colOff"),
              order = 0L, mime = mimeOf(media), payload = payload)
          }
        }
      }
    }.zipWithIndex.map { case (ia, i) => ia.copy(order = i.toLong) }.toVector
  }

  private def mimeOf(path: String): String =
    path.substring(path.lastIndexOf('.') + 1).toLowerCase match {
      case "png" => "image/png"
      case "jpg" | "jpeg" => "image/jpeg"
      case "gif" => "image/gif"
      case "bmp" => "image/bmp"
      case _ => "application/octet-stream"
    }

  // ----------------------------------------------------------- Spark layer

  /** Polars-shaped frame over the cell grid: string columns named
    * `column_1..column_N` (polars `has_header=False` naming) plus the
    * engine's explicit `_idx` order column, ready for
    * `ShapeOps.promoteHeader` (P1) / `sliceFrom` (P2) — the reference's
    * calamine read + header promotion + slice decomposed into the same
    * three composable steps the Parquet path uses.
    */
  def read(spark: SparkSession, bytes: Array[Byte], skipRows: Int = 0,
      sheetIndex: Int = 0): DataFrame = {
    val grid = parseRows(bytes, skipRows, sheetIndex)
    val width = grid.headOption.map(_.size).getOrElse(0)
    val schema = StructType(
      StructField(graft.ops.ShapeOps.IndexCol, LongType, nullable = false) +:
      (1 to width).map(i => StructField(s"column_$i", StringType, nullable = true)))
    val rows = grid.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(i.toLong +: r)
    }
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** Embedded images as a frame keyed the way `JoinOps.attachImages`
    * expects: `excel_row` already snapped by the reference heuristic
    * (`anchor_row + 1 + (rowOff > 10000)` — `JoinOps.anchorToExcelRow`),
    * `excel_col` 1-based, `img_order` the drawing-document order, payload
    * as a base64 data-URL string (the reference's interchange encoding,
    * utils/gpt.py:54-70).
    */
  def readImages(spark: SparkSession, bytes: Array[Byte],
      sheetIndex: Int = 0): DataFrame = {
    val schema = StructType(Seq(
      StructField("anchor_row", LongType, nullable = false),
      StructField("anchor_col", LongType, nullable = false),
      StructField("row_off_emu", LongType, nullable = false),
      StructField("img_order", LongType, nullable = false),
      StructField("mime", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val rows = parseImages(bytes, sheetIndex).map { ia =>
      Row(ia.anchorRow, ia.anchorCol, ia.rowOffEmu, ia.order, ia.mime, ia.payload)
    }
    val raw = spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    graft.mm.Multimodal.toDataUrl(raw, "mime", "payload")
      .select(
        graft.ops.JoinOps.anchorToExcelRow(col("anchor_row"), col("row_off_emu"))
          .as("excel_row"),
        (col("anchor_col") + 1).as("excel_col"),
        col("img_order"), col("data_url"))
  }

  // ---------------------------------------------------------------- writer

  /** 0-based column index → "A"/"Z"/"AA" letters (inverse of [[colIndex]]). */
  private[sources] def colLetters(idx: Int): String = {
    var i = idx + 1
    val sb = new StringBuilder
    while (i > 0) {
      val rem = (i - 1) % 26
      sb.insert(0, ('A' + rem).toChar)
      i = (i - 1) / 26
    }
    sb.toString
  }

  private def xmlEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case c if c < 0x20 && c != '\t' && c != '\n' && c != '\r' =>
        () // control chars are invalid in XML 1.0 — dropped, like calamine
      case c => sb.append(c)
    }
    sb.toString
  }

  /** XLSX delivery row limit (2^20) — also a guard that this DRIVER-SIDE
    * sink is only pointed at delivery-scale frames, never a corpus.
    */
  val MaxWriteRows: Int = 1 << 20

  /** K1 — the reference's final delivery step (`result.write_excel`,
    * main.py:40-47) as native byte generation: a minimal valid XLSX zip
    * (content types, rels, workbook, shared strings, one sheet). All
    * cells are written as shared strings of the stringified frame —
    * matching the engine's all-string registry output (P8) and making
    * [[parseRows]] ∘ write the identity on the grid.
    *
    * DRIVER-SIDE by design, like the reference's single delivered file:
    * the collect is capped at [[MaxWriteRows]] (the XLSX format limit).
    * Distributed, scan-efficient persistence stays Parquet
    * (`df.write.parquet`); this is the interchange format humans and
    * the FTP delivery step consume.
    */
  def writeBytes(df: DataFrame, sheetName: String = "Sheet1",
      header: Boolean = true): Array[Byte] = {
    import org.apache.spark.sql.types.StringType
    val strDf = df.select(df.columns.toIndexedSeq.map(c =>
      graft.Cols.q(c).cast(StringType).as(c)): _*)
    val rows = strDf.limit(MaxWriteRows + 1).collect()
    require(rows.length <= MaxWriteRows,
      s"XLSX sink is for delivery-scale frames: > $MaxWriteRows rows; use Parquet")
    val grid: Seq[Seq[String]] =
      (if (header) Seq(df.columns.toIndexedSeq) else Nil) ++
        rows.toIndexedSeq.map(r => (0 until r.length).map(i =>
          if (r.isNullAt(i)) null else r.getString(i)))

    // shared-strings table: one entry per distinct cell text
    val sst = scala.collection.mutable.LinkedHashMap[String, Int]()
    grid.flatten.filter(_ != null).foreach(s => sst.getOrElseUpdate(s, sst.size))

    val sheetXml = {
      val sb = new StringBuilder
      sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>")
      sb.append(s"""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      grid.zipWithIndex.foreach { case (cells, r) =>
        sb.append(s"""<row r="${r + 1}">""")
        cells.zipWithIndex.foreach { case (v, c) =>
          if (v != null)
            sb.append(s"""<c r="${colLetters(c)}${r + 1}" t="s"><v>${sst(v)}</v></c>""")
        }
        sb.append("</row>")
      }
      sb.append("</sheetData></worksheet>")
      sb.toString
    }
    val sstXml = {
      val sb = new StringBuilder
      sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>")
      sb.append(s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${sst.size}" uniqueCount="${sst.size}">""")
      sst.keys.foreach { s =>
        // xml:space preserves leading/trailing whitespace through
        // standards-compliant readers (and our own parser's _.text)
        sb.append(s"""<si><t xml:space="preserve">${xmlEscape(s)}</t></si>""")
      }
      sb.append("</sst>")
      sb.toString
    }
    val workbookXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        s"""<sheets><sheet name="${xmlEscape(sheetName)}" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val workbookRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
        """<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>""" +
        "</Relationships>"
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        "</Relationships>"
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
        """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" +
        "</Types>"

    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    entry("[Content_Types].xml", contentTypes)
    entry("_rels/.rels", rootRels)
    entry("xl/workbook.xml", workbookXml)
    entry("xl/_rels/workbook.xml.rels", workbookRels)
    entry("xl/sharedStrings.xml", sstXml)
    entry("xl/worksheets/sheet1.xml", sheetXml)
    zos.close()
    bos.toByteArray
  }

  /** Corpus-scale form: one task per workbook via the `binaryFile` source —
    * each file's grid lands as (`file`, `_idx`, `cells` array) with no
    * driver-side parsing; reshaping to named columns is the caller's
    * per-source concern (widths differ across files).
    */
  def readFiles(spark: SparkSession, pathGlob: String, skipRows: Int = 0): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        parseRows(bytes, skipRows).zipWithIndex.map { case (cells, i) =>
          (path, i.toLong, cells)
        }
      }
      .toDF("file", graft.ops.ShapeOps.IndexCol, "cells")
  }
}
