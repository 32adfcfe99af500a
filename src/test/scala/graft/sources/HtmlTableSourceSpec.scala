package graft.sources

import graft.TestSpark
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

/** S2 golden check: render the reference's shipped `oews_raw` parquet
  * back into BLS-shaped HTML (decoy table, `<thead>` header, row-header
  * `<th>` + `<td>` cells, 2 footer rows) and re-extract — the parser
  * must reproduce the parquet exactly, including the footer drop and
  * entity round-trips. (The reference repo ships no raw HTML, only the
  * parquet the extractor produced, so the fixture is synthesized from
  * that ground truth.)
  */
class HtmlTableSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def esc(s: String): String =
    if (s == null) ""
    else s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def render(cols: Seq[String], rows: Seq[Seq[String]],
      footers: Seq[String]): String = {
    val head = cols.map(c => s"<th scope=\"col\">${esc(c)}</th>").mkString
    val body = rows.map { r =>
      s"<tr><th scope=\"row\"><a href=\"#\">${esc(r.head)}</a></th>" +
        r.tail.map(c => s"<td>${esc(c)}</td>").mkString + "</tr>"
    }.mkString("\n")
    val foot = footers.map(f => s"<tr><th>${esc(f)}</th></tr>").mkString
    s"""<html><body>
       |<table class="nav"><thead><tr><th>Menu</th></tr></thead>
       |<tbody><tr><td>decoy</td></tr></tbody></table>
       |<table id="data"><thead><tr>$head</tr></thead>
       |<tbody>
       |$body
       |$foot
       |</tbody></table>
       |</body></html>""".stripMargin
  }

  test("golden round-trip: shipped oews_raw parquet -> HTML -> extract") {
    val want = spark.read.parquet(
      s"${TestSpark.RefData}/oews_raw/2025-09-17/oews_raw.parquet")
    val cols = want.columns.toSeq
    val rows = want.collect().map(r =>
      cols.indices.map(i => Option(r.get(i)).map(_.toString).orNull)).toSeq
    val html = render(cols, rows.map(_.toSeq),
      Seq("() Estimates not released.", "(8) Estimate not available."))
    val got = HtmlTableSource.extractTable(html)
    assert(got.columns == cols)
    assert(got.rows.length == 736) // footer rows dropped
    assert(got.rows.map(_.map(Option(_).getOrElse(""))) ==
      rows.map(_.map(Option(_).getOrElse(""))))
    // and as a DataFrame source
    val df = HtmlTableSource.toDataFrame(spark, html)
    assert(df.columns.toSeq == cols && df.count() == 736L)
  }

  test("full extract→transform chain from page HTML matches the cleaner golden") {
    import java.nio.file.Files
    val want = spark.read.parquet(
      s"${TestSpark.RefData}/oews_raw/2025-09-17/oews_raw.parquet")
    val cols = want.columns.toSeq
    val rows = want.collect().map(r =>
      cols.indices.map(i => Option(r.get(i)).map(_.toString).orNull).toSeq).toSeq
    val html = render(cols, rows, Seq("footer a", "footer b"))
    val cfg = graft.etl.PipelineConfig(
      Files.createTempDirectory("graft-html-chain").toString,
      java.time.LocalDate.parse("2025-09-17"))
    graft.etl.Pipeline.extractOews(spark, cfg, html)
    graft.etl.Pipeline.transformOews(spark, cfg)
    val got = graft.etl.Pipeline.readStage(spark, cfg, "oews_cleaned")
    val golden = graft.etl.OewsCleaner.clean(want)
    assert(got.exceptAll(golden).isEmpty && golden.exceptAll(got).isEmpty)
  }

  test("errors match the reference's guards") {
    val noTarget = "<table><thead><tr><th>Other</th></tr></thead></table>"
    val e1 = intercept[IllegalArgumentException](
      HtmlTableSource.extractTable(noTarget))
    assert(e1.getMessage.contains("Target table not found"))
    val onlyFooters = render(Seq("Occupation (SOC code)", "x"),
      Seq(Seq("r1", "v1")), Seq("f2")) // 1 data + 1 footer - drop 2 = 0
    val e2 = intercept[IllegalArgumentException](
      HtmlTableSource.extractTable(onlyFooters))
    assert(e2.getMessage.contains("No data rows"))
  }

  test("entity decoding and nested-tag stripping in cells") {
    assert(HtmlTableSource.text("<a href=\"#\">Sales &amp; Related</a>") ==
      "Sales & Related")
    assert(HtmlTableSource.text(" &#36;26.61&nbsp; ") == "$26.61")
    assert(HtmlTableSource.text("&#x28;5&#x29;-") == "(5)-")
  }

  test("toDataFrame's analyzed plan holds no LocalRelation") {
    val html = render(Seq("Occupation (SOC code)", "Employment"),
      Seq(Seq("Chief Executives(111011)", "1,000"), Seq("Legislators(111031)", "(8)")),
      Seq("() Estimates not released.", "(8) Estimate not available."))
    val df = HtmlTableSource.toDataFrame(spark, html)
    val plan = df.queryExecution.analyzed
    assert(plan.collect { case l: LocalRelation => l }.isEmpty, plan.treeString)
    assert(df.collect().map(_.toSeq).toSeq == Seq(
      Seq("Chief Executives(111011)", "1,000"), Seq("Legislators(111031)", "(8)")))
  }
}
