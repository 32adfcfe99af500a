package graft.sources

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.mutable

/** Writes small .xlsx workbooks for specs: one worksheet, header row
  * first, built with `java.util.zip` alone. Each cell is written in the
  * SpreadsheetML form its type names, so a spec can pin how the reader
  * handles each storage form.
  */
object XlsxFixture {

  sealed trait Cell
  /** A string stored once in `xl/sharedStrings.xml` (`t="s"`). */
  final case class Shared(text: String) extends Cell
  /** An inline string (`t="inlineStr"`); more than one run is rich text. */
  final case class Inline(runs: String*) extends Cell
  /** A numeric cell: the raw text goes into `<v>` as given. */
  final case class Num(raw: String) extends Cell
  /** A boolean cell (`t="b"`, stored as 1/0). */
  final case class Bool(value: Boolean) extends Cell
  /** A `<c/>` element that holds no value. */
  case object Blank extends Cell
  /** A string with a phonetic run (`<rPh>`, furigana): `reading` over
    * the whole `text`. Stored as a shared string, or inline when
    * `inline` is set.
    */
  final case class Phonetic(text: String, reading: String, inline: Boolean = false)
      extends Cell

  /** Writes `header` (as shared strings) and `rows` to `path`. A null
    * cell is left out of its row (a sparse row). With `refs = false` no
    * cell carries an `r` attribute, so the reader must place each cell by
    * its position among the row's `<c>` elements.
    */
  def write(path: String, header: Seq[String], rows: Seq[Seq[Cell]],
      refs: Boolean = true): Unit = {
    // shared strings keyed by their <si> body
    val sst = mutable.LinkedHashMap.empty[String, Int]
    def shared(body: String): Int = sst.getOrElseUpdate(body, sst.size)
    def plain(s: String): String = s"""<t xml:space="preserve">${esc(s)}</t>"""
    def phonetic(text: String, reading: String): String =
      s"<t>${esc(text)}</t>" +
        s"""<rPh sb="0" eb="${text.length}"><t>${esc(reading)}</t></rPh>""" +
        """<phoneticPr fontId="1" type="noConversion"/>"""
    val sheet = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        s"""<worksheet xmlns="$Ns"><sheetData>""")
    (header.map(Shared(_)) +: rows).zipWithIndex.foreach { case (cells, ri) =>
      sheet.append(s"""<row r="${ri + 1}">""")
      cells.zipWithIndex.foreach { case (cell, ci) =>
        val ref = if (refs) s""" r="${column(ci)}${ri + 1}"""" else ""
        cell match {
          case null =>
          case Shared(s) => sheet.append(s"""<c$ref t="s"><v>${shared(plain(s))}</v></c>""")
          case Inline(runs @ _*) =>
            val body =
              if (runs.length == 1) s"<t>${esc(runs.head)}</t>"
              else runs.map(t => s"<r><t>${esc(t)}</t></r>").mkString
            sheet.append(s"""<c$ref t="inlineStr"><is>$body</is></c>""")
          case Num(raw) => sheet.append(s"<c$ref><v>${esc(raw)}</v></c>")
          case Bool(b) => sheet.append(s"""<c$ref t="b"><v>${if (b) 1 else 0}</v></c>""")
          case Blank => sheet.append(s"<c$ref/>")
          case Phonetic(text, reading, true) =>
            sheet.append(s"""<c$ref t="inlineStr"><is>${phonetic(text, reading)}</is></c>""")
          case Phonetic(text, reading, false) =>
            sheet.append(s"""<c$ref t="s"><v>${shared(phonetic(text, reading))}</v></c>""")
        }
      }
      sheet.append("</row>")
    }
    sheet.append("</sheetData></worksheet>")
    val strings = sst.keys.map(body => s"<si>$body</si>")
      .mkString(s"""<sst xmlns="$Ns" count="${sst.size}" uniqueCount="${sst.size}">""", "", "</sst>")

    val zip = new ZipOutputStream(new FileOutputStream(path))
    try {
      Seq(
        "[Content_Types].xml" -> ContentTypes,
        "_rels/.rels" -> RootRels,
        "xl/workbook.xml" -> Workbook,
        "xl/_rels/workbook.xml.rels" -> WorkbookRels,
        "xl/worksheets/sheet1.xml" -> sheet.toString,
        "xl/sharedStrings.xml" -> strings
      ).foreach { case (name, xml) =>
        zip.putNextEntry(new ZipEntry(name))
        zip.write(xml.getBytes(UTF_8))
        zip.closeEntry()
      }
    } finally zip.close()
  }

  /** Column letters of a 0-based index: 0 → A, 25 → Z, 26 → AA. */
  private def column(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else column(i / 26 - 1) + column(i % 26)

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private val Ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val Rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
  private val Pkg = "http://schemas.openxmlformats.org/package/2006"
  private val Mime = "application/vnd.openxmlformats-officedocument.spreadsheetml"

  private val ContentTypes =
    s"""<?xml version="1.0" encoding="UTF-8"?><Types xmlns="$Pkg/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      s"""<Override PartName="/xl/workbook.xml" ContentType="$Mime.sheet.main+xml"/>""" +
      s"""<Override PartName="/xl/worksheets/sheet1.xml" ContentType="$Mime.worksheet+xml"/>""" +
      s"""<Override PartName="/xl/sharedStrings.xml" ContentType="$Mime.sharedStrings+xml"/>""" +
      "</Types>"
  private val RootRels =
    s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="$Pkg/relationships">""" +
      s"""<Relationship Id="rId1" Type="$Rel/officeDocument" Target="xl/workbook.xml"/>""" +
      "</Relationships>"
  private val Workbook =
    s"""<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="$Ns" xmlns:r="$Rel">""" +
      """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
  private val WorkbookRels =
    s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="$Pkg/relationships">""" +
      s"""<Relationship Id="rId1" Type="$Rel/worksheet" Target="worksheets/sheet1.xml"/>""" +
      s"""<Relationship Id="rId2" Type="$Rel/sharedStrings" Target="sharedStrings.xml"/>""" +
      "</Relationships>"
}
