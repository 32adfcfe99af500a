package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** HTML table extraction (SURVEY.md §2.1 S2) — a dependency-free
  * re-implementation of the reference's `DataExtractor.extract_table`
  * (load_data.py:48-84), which parses the scraped BLS OEWS page with
  * BeautifulSoup:
  *
  *   - target table = the `<table>` whose `<thead>`'s first row's first
  *     `<th>` text equals the marker (`'Occupation (SOC code)'`,
  *     load_data.py:55-61); error if absent (:64);
  *   - header = text of ALL `<th>` under `<thead>` (:66);
  *   - each `<tbody>` row = optional leading `<th>` (the BLS row header)
  *     followed by the `<td>`s (:70-78);
  *   - the LAST TWO rows are scraped footer notes and dropped
  *     (`all_rows[:-2]`, :79); error if nothing remains (:82).
  *
  * Parsing is regex-tokenized over well-formed table markup (the shape
  * the BLS page and the golden fixtures have) rather than a full HTML5
  * tree builder — the reference's BeautifulSoup call is similarly
  * lenient, and text extraction approximates `get_text(strip=True)` by
  * stripping nested tags, decoding entities, and trimming.
  *
  * Scale/architecture note: extraction runs driver-side on ONE page
  * (~12 MB) per run date — it is ingest, not dataflow. The engine's
  * canonical source of record stays the raw parquet this step writes
  * (the reference persists the same thing before any cleaning,
  * load_data.py:263), so 1000 executors re-read columnar data, never
  * HTML. For a corpus OF html documents, parsing belongs in a
  * `mapPartitions` over the documents table instead.
  */
object HtmlTableSource {

  final case class HtmlTable(columns: Seq[String], rows: Seq[Seq[String]])

  private def firstBlock(s: String, tag: String): Option[String] =
    s"(?is)<$tag\\b[^>]*>(.*?)</$tag>".r.findFirstMatchIn(s).map(_.group(1))

  private def allBlocks(s: String, tag: String): Seq[String] =
    s"(?is)<$tag\\b[^>]*>(.*?)</$tag>".r.findAllMatchIn(s).map(_.group(1)).toSeq

  /** Inner HTML → visible text: strip tags, decode the entities that
    * occur in practice, collapse NBSP to space, trim (≈ bs4
    * `get_text(strip=True)` for non-nested cell content).
    */
  private[sources] def text(inner: String): String = {
    val noTags = inner.replaceAll("(?s)<[^>]*>", "")
    // numeric entities go through Character.toChars so supplementary-
    // plane codepoints (&#128512;) decode to their surrogate pair
    // instead of a truncated BMP char
    def cp(n: Int): String = new String(Character.toChars(n))
    val decoded = "&(#[xX][0-9a-fA-F]+|#[0-9]+|[a-zA-Z]+);".r.replaceAllIn(noTags, m => {
      val e = m.group(1)
      val repl = e match {
        case "amp" => "&"
        case "lt" => "<"
        case "gt" => ">"
        case "quot" => "\""
        case "apos" => "'"
        case "nbsp" => " "
        case hex if hex.startsWith("#x") || hex.startsWith("#X") =>
          cp(Integer.parseInt(hex.drop(2), 16))
        case num if num.startsWith("#") => cp(num.drop(1).toInt)
        case other => s"&$other;"
      }
      scala.util.matching.Regex.quoteReplacement(repl)
    })
    decoded.trim
  }

  /** load_data.py:48-84 semantics; throws IllegalArgumentException where
    * the reference raises ValueError.
    */
  def extractTable(html: String,
      marker: String = "Occupation (SOC code)",
      dropLast: Int = 2): HtmlTable = {
    val table = allBlocks(html, "table").find { t =>
      (for {
        thead <- firstBlock(t, "thead")
        tr <- firstBlock(thead, "tr")
        th <- firstBlock(tr, "th")
      } yield text(th) == marker).getOrElse(false)
    }.getOrElse(throw new IllegalArgumentException(
      "Target table not found in HTML."))

    val thead = firstBlock(table, "thead").get
    val columns = allBlocks(thead, "th").map(text)
    val body = firstBlock(table, "tbody").getOrElse("")
    val all = allBlocks(body, "tr").map { tr =>
      // the row-header <th> precedes the <td>s in the BLS table; a row
      // without one is just its <td>s (mirrors the reference's
      // row.find('th') null-check)
      val th = firstBlock(tr, "th").map(text).toSeq
      th ++ allBlocks(tr, "td").map(text)
    }
    val rows = all.dropRight(dropLast)
    if (rows.isEmpty)
      throw new IllegalArgumentException("No data rows found in the table.")
    // pandas pads ragged rows with missing values; mirror that so a
    // malformed row can't silently shift columns
    val width = columns.length
    HtmlTable(columns, rows.map(r =>
      if (r.length >= width) r.take(width) else r ++ Seq.fill(width - r.length)(null)))
  }

  /** S2 as a DataFrame source: all-string schema-on-read, exactly like
    * the scraped pandas frame the reference persists as `oews_raw`.
    */
  def toDataFrame(spark: SparkSession, html: String,
      marker: String = "Occupation (SOC code)"): DataFrame = {
    val t = extractTable(html, marker)
    DriverRows.stringFrame(spark, t.columns, t.rows.map(_.toArray))
  }
}
