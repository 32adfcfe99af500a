package graft.sources

import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer

/** Excel (.xlsx) ingestion (SURVEY.md §2.1 S3) — the reference reads
  * `Skills.xlsx` with `pd.read_excel(engine="openpyxl")`
  * (load_data.py:282-286) and persists it verbatim as
  * `onet_skills_raw.parquet`. No Excel reader ships with Spark and the
  * sandbox allows no third-party deps, so this is a minimal OOXML
  * (SpreadsheetML) reader over what the JDK already has: `java.util.zip`
  * for the container, StAX streaming XML for `xl/sharedStrings.xml` and
  * the first worksheet.
  *
  * Cell handling: shared strings (`t="s"`), inline strings
  * (`t="inlineStr"`), literal strings (`t="str"`), booleans (`t="b"` →
  * TRUE/FALSE) and raw numeric text; absent cells stay null (sparse
  * rows are common in SpreadsheetML). A string's phonetic runs
  * (`<rPh>`, furigana) are dropped, as openpyxl's `Text.content` drops
  * them. Values are surfaced as the RAW stored strings — type inference
  * is downstream's job (the engine's cleaners coerce with try_cast,
  * mirroring how the pandas frame's dtypes are re-imposed by the DDL on
  * load).
  *
  * Scale note: like the HTML extract, this is a driver-side ingest step
  * for one workbook per run — the canonical analytical source stays the
  * parquet it lands in. A corpus of workbooks would instead be read in
  * parallel via binaryFile + mapPartitions over this same parser.
  *
  * The parsed rows reach Spark as a parallelized RDD
  * ([[DriverRows.stringFrame]]), not as a local relation. A local
  * relation of the Skills sheet's 62,580 rows is converted row by row
  * on the driver when it is built; `ConvertToLocalRelation` then folds
  * `readTyped`'s casts into it, evaluating them row by row, interpreted;
  * and every optimizer rule that maps a plan's expressions maps the
  * relation's row vector again (about 250 ms per planning of the bare
  * relation at `local[4]` on a 4-CPU host). Over an RDD the plan's size does not depend on the row
  * count, and the rows are converted and cast in tasks, the casts as
  * generated code.
  *
  * Golden-tested cell-for-cell against the reference's shipped
  * `onet_skills_raw` parquet (62,580 × 15).
  */
object XlsxSource {

  final case class Sheet(header: Seq[String], rows: IndexedSeq[Array[String]])

  private def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i) - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  private def newReader(in: java.io.InputStream): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(in)
  }

  private def sharedStrings(zip: ZipFile): IndexedSeq[String] = {
    val entry = zip.getEntry("xl/sharedStrings.xml")
    if (entry == null) return IndexedSeq.empty
    val r = newReader(zip.getInputStream(entry))
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inSi = false
    var inPhonetic = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = true; cur.clear()
              case "rPh" => inPhonetic = true
              case "t" if inSi && !inPhonetic => cur.append(r.getElementText)
              case _ =>
            }
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = false; out += cur.toString
              case "rPh" => inPhonetic = false
              case _ =>
            }
          case _ =>
        }
      }
    } finally r.close()
    out.toIndexedSeq
  }

  /** First worksheet: header row + data rows, cells as raw strings. The
    * header row is read first and fixes the width (its last valued cell);
    * every later cell is written straight into its row's array, and a
    * cell past the width is dropped.
    */
  def readRaw(path: String): Sheet = {
    val zip = new ZipFile(path)
    try {
      val sst = sharedStrings(zip)
      val entry = zip.getEntry("xl/worksheets/sheet1.xml")
      require(entry != null, s"no xl/worksheets/sheet1.xml in $path")
      val r = newReader(zip.getInputStream(entry))
      val header = ArrayBuffer.empty[String]
      var width = -1 // -1 until the header row has ended
      val rows = ArrayBuffer.empty[Array[String]]
      var cur: Array[String] = null
      var inRow = false
      var cellCol = -1
      var lastCol = -1
      var lastValued = -1
      var cellType = ""
      var inPhonetic = false
      // rich-text inline cells carry one <t> per formatting run —
      // concatenate runs of the SAME cell instead of letting the last run
      // overwrite the others
      def put(i: Int, value: String): Unit = {
        if (width < 0) {
          while (header.length <= i) header += null
          header(i) = if (i == lastValued) header(i) + value else value
        } else if (i < width)
          cur(i) = if (i == lastValued) cur(i) + value else value
        lastValued = i
      }
      try {
        while (r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "row" =>
                  inRow = true; lastCol = -1; lastValued = -1
                  if (width >= 0) cur = new Array[String](width)
                case "c" =>
                  // a cell without `r` sits right after the previous <c>,
                  // valued or not (SpreadsheetML §18.3.1.4)
                  val ref = r.getAttributeValue(null, "r")
                  cellCol = if (!inRow) -1 else if (ref == null) lastCol + 1 else colIndex(ref)
                  lastCol = cellCol
                  val t = r.getAttributeValue(null, "t")
                  cellType = if (t == null) "" else t
                case "rPh" => inPhonetic = true
                case "v" | "t" if inRow && cellCol >= 0 && !inPhonetic =>
                  val raw = r.getElementText
                  put(cellCol, cellType match {
                    case "s" => sst(raw.trim.toInt)
                    case "b" => if (raw.trim == "1") "TRUE" else "FALSE"
                    case _ => raw // "str", "inlineStr" <t>, or numeric text
                  })
                case _ =>
              }
            case XMLStreamConstants.END_ELEMENT =>
              r.getLocalName match {
                case "row" =>
                  inRow = false
                  if (width < 0) width = header.length else rows += cur
                case "c" => cellCol = -1; cellType = ""
                case "rPh" => inPhonetic = false
                case _ =>
              }
            case _ =>
          }
        }
      } finally r.close()
      require(width >= 0, s"empty worksheet in $path")
      require(width > 0, s"no valued header cell in $path")
      Sheet(header.toIndexedSeq, rows.toIndexedSeq)
    } finally zip.close()
  }

  /** S3 as a DataFrame source: all-string schema-on-read (header row as
    * column names), like the raw pandas frame before dtype inference.
    */
  def read(spark: SparkSession, path: String): DataFrame = frame(spark, readRaw(path))

  private def frame(spark: SparkSession, sheet: Sheet): DataFrame =
    DriverRows.stringFrame(spark, sheet.header, sheet.rows)

  /** Typed read with pandas' inference rules (what `pd.read_excel`
    * produces and the reference persists): a column is int64 only when
    * it has NO nulls and every value parses as an integer (pandas
    * promotes nullable ints to float64), float64 when every non-null
    * value parses numerically, else it stays a string column.
    *
    * The types are decided on the driver from the parsed sheet, in one
    * row-major pass: each cell is judged with Spark's own `Cast` in TRY
    * mode (the expression `try_cast` builds, so the semantics are
    * Spark's), and a column stops being checked once both its BIGINT and
    * DOUBLE probes have failed. Running the same probes as a Spark
    * aggregate cost four jobs, and the string→double cast signals each
    * bad value with a thrown NumberFormatException — about 0.6 M of them
    * per read of the 62,580-row Skills sheet, one per text cell. Here a
    * text column costs one failed cast, and the read launches no job.
    */
  def readTyped(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val sheet = readRaw(path)
    val raw = frame(spark, sheet)
    val types = inferTypes(sheet, spark.sessionState.conf.sessionLocalTimeZone)
    val cols = raw.columns.zip(types).map {
      case (c, LongType) => expr(s"CAST(`$c` AS BIGINT)").as(c)
      case (c, DoubleType) => expr(s"CAST(`$c` AS DOUBLE)").as(c)
      case (c, _) => col(c)
    }
    raw.select(cols.toIndexedSeq: _*)
  }

  /** Per column: LongType, DoubleType or StringType by readTyped's rule. */
  private def inferTypes(sheet: Sheet, timeZone: String): Array[DataType] = {
    val width = sheet.header.length
    val nonNull = new Array[Int](width)
    val allLong = Array.fill(width)(true)
    val allDouble = Array.fill(width)(true)
    val cell = new GenericInternalRow(1)
    val input = BoundReference(0, StringType, nullable = true)
    val toLong = Cast(input, LongType, Some(timeZone), EvalMode.TRY)
    val toDouble = Cast(input, DoubleType, Some(timeZone), EvalMode.TRY)
    sheet.rows.foreach { row =>
      var i = 0
      while (i < width) {
        val v = row(i)
        if (v != null && (allLong(i) || allDouble(i))) {
          nonNull(i) += 1
          cell.update(0, UTF8String.fromString(v))
          if (allLong(i)) allLong(i) = toLong.eval(cell) != null
          if (allDouble(i)) allDouble(i) = toDouble.eval(cell) != null
        }
        i += 1
      }
    }
    Array.tabulate(width) { i =>
      if (nonNull(i) == sheet.rows.length && nonNull(i) > 0 && allLong(i)) LongType
      else if (nonNull(i) > 0 && allDouble(i)) DoubleType
      else StringType
    }
  }
}
