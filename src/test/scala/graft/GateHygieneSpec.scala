package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._

/** Twin-doctrine enforcement (round 14): DuckDB inlines CTEs by
  * default, so a non-materialized CTE referenced more than once is
  * re-derived per reference — and inside an unrolled iterative twin
  * the expansion is EXPONENTIAL in the round count. This cost round 13
  * its entire driver-side correctness artifact (graph_eigenvector's
  * twin hung DuckDB at 21 GB; graph_ktruss peaked at 57 GB; the bpe
  * family burned 30 s each). The rule, enforced here over every gated
  * oracle string so it can never regress silently:
  *
  *   every CTE referenced >= 2 times must carry `AS MATERIALIZED`,
  *   EXCEPT self-referencing (recursive) members, which cannot be.
  *
  * Reference counting is deliberately conservative: a column alias
  * sharing a CTE's name counts as a reference, so the check can
  * over-flag but never under-flag. A new twin tripping this either
  * materializes the CTE or renames the colliding alias.
  *
  * Every check in this spec has exactly one implementation, here: it
  * runs over the registered oracle strings (and, for the overflow and
  * float-seam classes, over the query sources), and each heuristic is
  * pinned by a bad-fixture test. Run it alone with
  * `sbt "testOnly graft.GateHygieneSpec"`.
  */
class GateHygieneSpec extends AnyFunSuite {
  private val CtePat =
    """(?i)\b(\w+)(?:\s*\([\w\s,]*\))?\s+AS\s+(MATERIALIZED\s+)?\(""".r

  private def cteBody(sql: String, start: Int): String = {
    var depth = 1
    var i = start
    while (depth > 0 && i < sql.length) {
      if (sql(i) == '(') depth += 1
      else if (sql(i) == ')') depth -= 1
      i += 1
    }
    sql.substring(start, i - 1)
  }

  /** `name xN` for every non-recursive CTE defined without
    * `AS MATERIALIZED` and referenced N >= 2 times after its definition.
    */
  private[graft] def unmaterializedCtes(sql: String): Seq[String] =
    for {
      m <- CtePat.findAllMatchIn(sql).toSeq
      if m.group(2) == null // not MATERIALIZED
      name = m.group(1)
      q = Pattern.quote(name)
      // recursive member: references itself inside its own body
      if s"(?i)(?:FROM|JOIN)\\s+$q\\b".r.findFirstIn(cteBody(sql, m.end)).isEmpty
      // the lookahead excludes DEFINITION sites only (`name AS (` /
      // `name AS MATERIALIZED (`); `FROM name AS alias` is a real
      // reference and must count — a broader `AS` exclusion would
      // under-flag aliased self-joins, the exact hazard class
      refs = s"(?i)(?<![\\w.])$q\\b(?!\\s+AS\\s+(MATERIALIZED\\s+)?\\()".r
        .findAllIn(sql.substring(m.end)).size
      if refs >= 2
    } yield s"$name x$refs"

  test("every multiply-referenced non-recursive oracle CTE is MATERIALIZED") {
    val violations = for {
      (qname, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
      site <- unmaterializedCtes(sql)
    } yield s"$qname: $site"
    assert(violations.isEmpty,
      "unmaterialized multiply-referenced oracle CTEs (the DuckDB " +
        "inlining hazard — add AS MATERIALIZED):\n" +
        violations.mkString("\n"))
  }

  test("the CTE auditor fires on a twice-referenced inline CTE (bad fixture)") {
    assert(unmaterializedCtes("WITH c AS (SELECT 1 AS x) " +
      "SELECT * FROM c UNION ALL SELECT * FROM c") == Seq("c x2"),
      "an inline CTE referenced twice must be flagged")
    assert(unmaterializedCtes("WITH c AS MATERIALIZED (SELECT 1 AS x) " +
      "SELECT * FROM c JOIN c d ON c.x = d.x").isEmpty,
      "the same CTE marked AS MATERIALIZED passes")
    assert(unmaterializedCtes("WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL " +
      "SELECT n + 1 FROM r WHERE n < 5) SELECT * FROM r JOIN r s ON r.n = s.n")
      .isEmpty, "a recursive member cannot be materialized and passes")
    assert(unmaterializedCtes("WITH c AS (SELECT 1 AS x) " +
      "SELECT * FROM c AS a JOIN c AS b ON a.x = b.x") == Seq("c x2"),
      "`FROM c AS alias` references count toward the two")
    assert(unmaterializedCtes(
      "WITH c AS (SELECT 1 AS x) SELECT x FROM c").isEmpty,
      "a CTE referenced once passes")
  }

  // ---- float-seam doctrine (round 15, test-enforced round 16) --------
  //
  // Two cross-engine float seams in twin SQL, both per-scale-factor
  // coin tosses (r15 found 27 latent sites that had sat green for ten
  // rounds before one flipped analytics_regression at sf0.001 only):
  //
  //   1. DuckDB's direct DECIMAL→DOUBLE cast DOUBLE-ROUNDS (int128 →
  //      double → ÷10^scale); Spark's goes through BigDecimal and is
  //      correctly rounded — one ulp apart on boundary values. Twins
  //      must hop through text: CAST(CAST(x AS STRING) AS DOUBLE).
  //   2. ROUND(double, n≥1): Spark rounds the SHORTEST REPRESENTATION
  //      half-up (1.005 → 1.01), DuckDB the binary value (→ 1.00).
  //      Twins respell as
  //      CAST(ROUND(CAST(CAST(x AS STRING) AS DECIMAL(38,18)), n) AS DOUBLE).
  //      Scale-0 rounds are exempt: the N.5 boundary is exactly
  //      representable, so both engines see the same tie.
  //
  // These tests make reintroduction fail `sbt test` instead of a
  // future scale factor. The checks run over the REGISTERED oracle
  // strings — the exact text DuckDB executes — so programmatically-
  // built twins are covered too, and the query-source sweep below runs
  // them over every triple-quoted literal in the query files.

  /** (start, inner) for every balanced `CAST( … )` span in `sql`. */
  private def castSpans(sql: String): Seq[(Int, String)] =
    "(?i)\\bCAST\\s*\\(".r.findAllMatchIn(sql).toSeq.flatMap { m =>
      var depth = 1
      var j = m.end
      while (j < sql.length && depth > 0) {
        if (sql(j) == '(') depth += 1
        else if (sql(j) == ')') depth -= 1
        j += 1
      }
      if (depth == 0) Some((m.start, sql.substring(m.end, j - 1))) else None
    }

  /** True iff expr is, in whole, one `CAST( … AS STRING)` — the leading
    * CAST's paren must close at the very end. A mere trailing
    * `AS STRING)` (e.g. `SUM(dec) + CAST(y AS STRING)`) is NOT a hop:
    * the decimal seam beside it is still live.
    */
  private def isWholeStringCast(expr0: String): Boolean = {
    val e = expr0.reverse.dropWhile(_.isWhitespace).reverse
    "(?is)^\\s*CAST\\s*\\(".r.findFirstMatchIn(e) match {
      case Some(m)
          if "(?is)\\bAS\\s+STRING\\s*\\)\\s*$".r.findFirstIn(e).isDefined =>
        var depth = 1
        var i = m.end
        while (i < e.length && depth > 0) {
          if (e(i) == '(') depth += 1
          else if (e(i) == ')') depth -= 1
          i += 1
        }
        depth == 0 && i == e.length
      case _ => false
    }
  }

  /** Inner texts of `CAST(<decimal-typed expr> AS DOUBLE)` spans missing
    * the text hop.
    */
  private[graft] def unhoppedDecimalDoubleCasts(sql: String): Seq[String] =
    castSpans(sql).map(_._2).filter { inner =>
      val body = inner.reverse.dropWhile(_.isWhitespace).reverse
      "(?is)\\bAS\\s+DOUBLE\\s*$".r.findFirstMatchIn(body) match {
        case None => false
        case Some(m) =>
          val expr = body.substring(0, m.start).trim
          "(?i)\\bDECIMAL\\s*\\(".r.findFirstIn(expr).isDefined &&
            !isWholeStringCast(expr) &&
            // the Spark-parity ROUND respell: its result is a small-scale
            // decimal whose significand fits a double exactly — the outer
            // cast is single-rounding-safe by construction
            !("(?is)^\\s*ROUND\\s*\\(".r.findFirstIn(expr).isDefined &&
              "(?i)DECIMAL\\s*\\(38,\\s*18\\s*\\)".r.findFirstIn(expr).isDefined)
      }
    }.map(_.split("\\s+").mkString(" ").take(90))

  /** `ROUND(x, n≥1)` spans whose argument is not the Spark-parity
    * respell (valid for |x| < 1e20), scale-0 rounds exempt.
    */
  private[graft] def bareRoundHazards(sql: String): Seq[String] =
    "(?i)\\bROUND\\s*\\(".r.findAllMatchIn(sql).toSeq.flatMap { m =>
      var depth = 1
      var j = m.end
      while (j < sql.length && depth > 0) {
        if (sql(j) == '(') depth += 1
        else if (sql(j) == ')') depth -= 1
        j += 1
      }
      if (depth != 0) None
      else {
        val inner = sql.substring(m.end, j - 1)
        // first top-level argument
        var d = 0
        var cut = inner.length
        var i = 0
        while (i < inner.length && cut == inner.length) {
          inner(i) match {
            case '(' => d += 1
            case ')' => d -= 1
            case ',' if d == 0 => cut = i
            case _ =>
          }
          i += 1
        }
        val firstArg = inner.substring(0, cut).reverse
          .dropWhile(_.isWhitespace).reverse
        val rest = inner.substring(firstArg.length)
          .dropWhile(c => c == ' ' || c == ',' || c == '\n' || c == '|' || c == '\t')
        val scale = if (rest.isEmpty) "" else rest.split("\\)")(0).trim
        if (scale == "" || scale == "0") None // N.5 exact — no seam
        else if ("(?is)AS\\s+STRING\\s*\\)\\s*AS\\s+DECIMAL\\s*\\(38,\\s*18\\s*\\)\\s*\\)\\s*$".r
            .findFirstIn(firstArg).isDefined) None // already the respell
        else Some(inner.split("\\s+").mkString(" ").take(90))
      }
    }

  test("no oracle twin carries a raw DECIMAL→DOUBLE cast (double-rounding seam)") {
    val violations = for {
      (qname, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
      site <- unhoppedDecimalDoubleCasts(sql)
    } yield s"$qname: $site"
    assert(violations.isEmpty,
      "raw CAST(<decimal> AS DOUBLE) in oracle twins — DuckDB double-" +
        "rounds this (a per-SF gate coin toss); hop through text as " +
        "CAST(CAST(x AS STRING) AS DOUBLE):\n" + violations.mkString("\n"))
  }

  test("no oracle twin carries a bare ROUND(x, n>=1) (repr-vs-binary seam)") {
    val violations = for {
      (qname, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
      site <- bareRoundHazards(sql)
    } yield s"$qname: $site"
    assert(violations.isEmpty,
      "bare ROUND(x, n>=1) in oracle twins — Spark rounds the shortest " +
        "repr, DuckDB the binary value; respell as CAST(ROUND(CAST(" +
        "CAST(x AS STRING) AS DECIMAL(38,18)), n) AS DOUBLE) (a ROUND " +
        "over a genuinely DECIMAL-typed argument is exact: if that's " +
        "the case, restructure so the auditor sees the DECIMAL(38,18) " +
        "spelling):\n" + violations.mkString("\n"))
  }

  test("the decimal-cast auditor fires on the raw spelling (bad fixture)") {
    val bad = "SELECT CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) FROM t"
    assert(unhoppedDecimalDoubleCasts(bad).nonEmpty,
      "auditor must flag the raw decimal→double cast")
    val hopped =
      "SELECT CAST(CAST(SUM(CAST(x AS DECIMAL(18,2))) AS STRING) AS DOUBLE) FROM t"
    assert(unhoppedDecimalDoubleCasts(hopped).isEmpty,
      "auditor must pass the text hop")
    val respell = "SELECT CAST(ROUND(CAST(CAST(x AS STRING) AS " +
      "DECIMAL(38,18)), 2) AS DOUBLE) FROM t"
    assert(unhoppedDecimalDoubleCasts(respell).isEmpty,
      "auditor must pass the ROUND respell's outer cast")
    val plainDouble = "SELECT CAST(x AS DOUBLE) FROM t"
    assert(unhoppedDecimalDoubleCasts(plainDouble).isEmpty,
      "a cast with no decimal in scope is out of the seam's reach")
    // a trailing unrelated string cast must NOT read as the hop: the
    // decimal seam beside it is still live (r16 review finding — the
    // old check anchored on a mere 'AS STRING)' suffix)
    val trailing = "SELECT CAST(SUM(CAST(x AS DECIMAL(18,2))) + " +
      "CAST(y AS STRING) AS DOUBLE) FROM t"
    assert(unhoppedDecimalDoubleCasts(trailing).nonEmpty,
      "auditor must flag a live decimal seam beside an unrelated " +
        "trailing string cast")
  }

  test("the ROUND auditor fires on the bare spelling (bad fixture)") {
    assert(bareRoundHazards("SELECT ROUND(AVG(x), 2) FROM t").nonEmpty,
      "auditor must flag bare ROUND(x, 2)")
    assert(bareRoundHazards("SELECT ROUND(x) + ROUND(y, 0) FROM t").isEmpty,
      "scale-0 rounds are exempt (the N.5 boundary is exact)")
    val respelled = "SELECT CAST(ROUND(CAST(CAST(x AS STRING) AS " +
      "DECIMAL(38,18)), 2) AS DOUBLE) FROM t"
    assert(bareRoundHazards(respelled).isEmpty,
      "auditor must pass the Spark-parity respell")
  }

  // ---- integer-overflow doctrine (round 17, named by the sf1 run) -----
  //
  // The class the r16 sf1 campaign caught by MEASUREMENT (the only two
  // real failures at 100x the gate scale): an unbounded SUM/cumulative
  // magnitude — revenue cents summed over the fact table — multiplied
  // by a ppm/percent scale constant in BIGINT. `cum_cents * 1000000`
  // sat green at sf0.001–sf0.1 for ten rounds and overflowed 2^63 at
  // sf1 (~2.3e13 cents x 1e6); 100 TB is another ~10^4 beyond that.
  // The fix routes the multiply through DECIMAL(38,0) (Spark) /
  // HUGEINT (DuckDB) — exact integer floor division either way.
  //
  // This check makes the class fail `sbt test` instead of a future
  // scale factor: every REGISTERED oracle twin is swept for
  // multiplicative chains holding an integer literal >= 1000 and an
  // unbounded-magnitude factor with no widening cast in the chain; the
  // query-source sweep below also covers the engine's expr("...")
  // strings. A chain is safe if any factor holds CAST(.. AS
  // DECIMAL(38,0)) / CAST(.. AS HUGEINT) anywhere (the width propagates
  // through integer division) or is floating (a DOUBLE cast or float
  // literal — precision there is the float-seam doctrine's beat).
  //
  // "Unbounded" is a NAME heuristic, conservative like the CTE check:
  // a non-indicator SUM( call, or an identifier whose last segment
  // looks like a summed magnitude (_c/_mc/_cents, cum/total/sum/rev/
  // spend/sales stems). Exempt, each for a bounded reason:
  //   * avg/mean/max/min/med/pNN/stddev stems — per-row statistics;
  //   * list_*/array_* calls — folds over one row's payload;
  //   * length factors — bounded by one value's width (64 for
  //     bin(BIGINT), the log2 kernel's bit-length x 1e6);
  //   * row counts (COUNT(...), SUM(CASE WHEN .. THEN 1 ELSE 0 END))
  //     under constants <= 1e6 only: 2^63 / 1e6 ≈ 9.2e12 rows is ~9x a
  //     100 TB row count, while summed cents run ~400x a row count
  //     (avg item ~3.6e5 cents) and made the real sf1 overflow.
  // There is no waiver comment: a flagged site is widened or renamed.
  //
  // Known reach limit: Column-DSL arithmetic (`(col(a) - col(b)) *
  // 1000000L`) is invisible here. Those sites were adjudicated by hand
  // in r17 (one live find, the Theil-Sen slope scaling, widened); new
  // scale multiplies should be spelled as expr("...") strings.

  private val OvfLit = """(?<![\w.$])(\d{4,})(?:L\b)?(?![\w.])""".r
  private val OvfMagnitude =
    ("(?i)(?:^|_)(cum\\w*|total\\w*|sum\\w*|rev|revenue|spend\\w*|sales|" +
      "cents\\w*)(?:_|$)|_(?:c|mc|cents)$|^grand").r
  private val OvfBounded =
    "(?i)(?:^|_)(avg|mean|max|min|med|p\\d+|stddev)(?:_|$)|^(list|array)_".r
  private val OvfIndicatorSum =
    "(?is)\\bSUM\\s*\\(\\s*CASE\\s+WHEN\\b.*?\\bTHEN\\s+1\\s+ELSE\\s+0\\s+END\\s*\\)".r
  private val OvfWidened =
    "(?is)\\bAS\\s+(?:DECIMAL\\s*\\(\\s*38\\s*,\\s*0\\s*\\)|HUGEINT)\\s*\\)".r
  private val OvfFloating =
    "(?is)\\bAS\\s+(?:DOUBLE|FLOAT|REAL)\\s*\\)\\s*$|\\d\\.\\d".r
  private val OvfCountScaleMax = BigInt(1000000)

  private def ovfIsWordChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '.' || c == '$'

  private def ovfSkipWs(s: String, i0: Int, step: Int): Int = {
    var i = i0
    while (i >= 0 && i < s.length &&
        (s(i) == ' ' || s(i) == '\t' || s(i) == '\n' || s(i) == '\r' ||
          s(i) == '|')) i += step
    i
  }

  /** Factor ending at s(i) scanning left; (start, text) or None. */
  private def ovfFactorLeft(s: String, i0: Int): Option[(Int, String)] = {
    val i = ovfSkipWs(s, i0, -1)
    if (i < 0) None
    else if (s(i) == ')') {
      var depth = 1
      var j = i - 1
      while (j >= 0 && depth > 0) {
        if (s(j) == ')') depth += 1
        else if (s(j) == '(') depth -= 1
        j -= 1
      }
      if (depth > 0) None
      else {
        var k = j
        while (k >= 0 && ovfIsWordChar(s(k))) k -= 1
        Some((k + 1, s.substring(k + 1, i + 1)))
      }
    } else if (ovfIsWordChar(s(i))) {
      var k = i
      while (k >= 0 && ovfIsWordChar(s(k))) k -= 1
      Some((k + 1, s.substring(k + 1, i + 1)))
    } else None
  }

  /** Factor starting at s(i) scanning right; (endExcl, text) or None. */
  private def ovfFactorRight(s: String, i0: Int): Option[(Int, String)] = {
    val i = ovfSkipWs(s, i0, 1)
    if (i >= s.length) None
    else if (ovfIsWordChar(s(i))) {
      var k = i
      while (k < s.length && ovfIsWordChar(s(k))) k += 1
      val j0 = ovfSkipWs(s, k, 1)
      if (j0 < s.length && s(j0) == '(') {
        var depth = 1
        var j = j0 + 1
        while (j < s.length && depth > 0) {
          if (s(j) == '(') depth += 1
          else if (s(j) == ')') depth -= 1
          j += 1
        }
        if (depth > 0) None else Some((j, s.substring(i, j)))
      } else Some((k, s.substring(i, k)))
    } else if (s(i) == '(') {
      var depth = 1
      var j = i + 1
      while (j < s.length && depth > 0) {
        if (s(j) == '(') depth += 1
        else if (s(j) == ')') depth -= 1
        j += 1
      }
      if (depth > 0) None else Some((j, s.substring(i, j)))
    } else None
  }

  /** All factor texts in the maximal multiplicative chain around the
    * literal at [litStart, litEnd).
    */
  private def ovfChainAround(s: String, litStart: Int,
      litEnd: Int): Seq[String] = {
    val factors = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = ovfSkipWs(s, litStart - 1, -1)
    var continue = i >= 0 && s(i) == '*'
    while (continue) {
      ovfFactorLeft(s, i - 1) match {
        case Some((start, text)) =>
          factors += text
          i = ovfSkipWs(s, start - 1, -1)
          continue = i >= 0 && s(i) == '*'
        case None => continue = false
      }
    }
    var j = ovfSkipWs(s, litEnd, 1)
    continue = j < s.length && s(j) == '*'
    while (continue) {
      ovfFactorRight(s, j + 1) match {
        case Some((end, text)) =>
          factors += text
          j = ovfSkipWs(s, end, 1)
          continue = j < s.length && s(j) == '*'
        case None => continue = false
      }
    }
    factors.toSeq
  }

  private def ovfIdentSegments(factor: String): Seq[String] =
    "[A-Za-z_][\\w.$]*".r.findAllIn(factor).toSeq
      .map(_.split('.').last)

  private val OvfLengthFactor =
    "(?is)^\\s*(?:CAST\\s*\\(\\s*)?(?:bit_|octet_)?len(?:gth)?\\s*\\(".r

  private def ovfIsUnbounded(factor: String, lit: BigInt): Boolean = {
    // a value-width (length) factor is per-value bounded (≤ 64 for
    // bin(BIGINT) — the log2 kernel's bit-length × 10⁶)
    if (OvfLengthFactor.findFirstIn(factor).isDefined) return false
    val stripped = OvfIndicatorSum.replaceAllIn(factor, " ")
    if ("(?i)\\bSUM\\s*\\(".r.findFirstIn(stripped).isDefined) true
    else if ("(?i)\\bCOUNT\\s*\\(".r.findFirstIn(factor).isDefined ||
        OvfIndicatorSum.findFirstIn(factor).isDefined)
      lit > OvfCountScaleMax
    else {
      val segs = ovfIdentSegments(factor).filterNot(s =>
        "(?i)^(sum|count|cast|coalesce|case|when|then|else|end|greatest|least)$"
          .r.matches(s))
      if (segs.exists(s => OvfBounded.findFirstIn(s).isDefined)) false
      else segs.exists(s => OvfMagnitude.findFirstIn(s).isDefined)
    }
  }

  private[graft] def unwidenedScaleMultiplies(sql: String): Seq[String] =
    OvfLit.findAllMatchIn(sql).toSeq.flatMap { m =>
      val lit = BigInt(m.group(1))
      val factors = ovfChainAround(sql, m.start, m.end)
      if (factors.isEmpty) Nil
      else if (factors.exists(f => OvfWidened.findFirstIn(f).isDefined)) Nil
      else if (factors.exists(f => OvfFloating.findFirstIn(f).isDefined)) Nil
      else {
        val hot = factors.filter(f => ovfIsUnbounded(f, lit))
        if (hot.isEmpty) Nil
        else Seq(s"*${m.group(1)} over " +
          hot.map(_.split("\\s+").mkString(" ").take(70)).mkString("; "))
      }
    }

  test("no oracle twin multiplies an unbounded magnitude by a scale " +
      "constant in narrow integers (the sf1 overflow class)") {
    val violations = for {
      (qname, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
      site <- unwidenedScaleMultiplies(sql)
    } yield s"$qname: $site"
    assert(violations.isEmpty,
      "narrow scale-constant multiply over an unbounded SUM/cents " +
        "magnitude (the cum_cents*1e6 shape sf1 caught by measurement) " +
        "— widen through CAST(x AS HUGEINT) in the twin / " +
        "DECIMAL(38,0) in the engine, or restructure (see the exemptions " +
        "above):\n" + violations.mkString("\n"))
  }

  test("the overflow auditor fires on the narrow spelling (bad fixture)") {
    val bad = "SELECT CAST(cum_cents * 1000000 // total_c AS BIGINT) FROM t"
    assert(unwidenedScaleMultiplies(bad).nonEmpty,
      "auditor must flag the narrow cum_cents*1e6 shape")
    val widened = "SELECT CAST(CAST(cum_cents AS HUGEINT) * 1000000 " +
      "// total_c AS BIGINT) FROM t"
    assert(unwidenedScaleMultiplies(widened).isEmpty,
      "auditor must pass the HUGEINT widening")
    val widenedSpark =
      "SELECT CAST(cum_cents AS DECIMAL(38,0)) * 1000000 DIV total_c FROM t"
    assert(unwidenedScaleMultiplies(widenedSpark).isEmpty,
      "auditor must pass the DECIMAL(38,0) widening")
    val sumBad = "SELECT SUM(e.n_subwords) * 1000000 // SUM(w.n_words) FROM t"
    assert(unwidenedScaleMultiplies(sumBad).nonEmpty,
      "auditor must flag a non-indicator SUM under a scale constant")
    val indicator = "SELECT SUM(CASE WHEN x THEN 1 ELSE 0 END) * 1000000 " +
      "// n FROM t"
    assert(unwidenedScaleMultiplies(indicator).isEmpty,
      "row-count magnitudes are exempt under <= 1e6 (documented ~9x " +
        "headroom at a 100 TB row count)")
    assert(unwidenedScaleMultiplies(
      "SELECT COUNT(*) * 67108864 FROM t").nonEmpty,
      "a row count under a > 1e6 constant is back in scope")
    assert(unwidenedScaleMultiplies(
      "SELECT avg_cents * 1000000 // n FROM t").isEmpty,
      "per-row-bounded statistics (avg/mean/max/min stems) are exempt")
    assert(unwidenedScaleMultiplies(
      "SELECT CAST(length(bin(t.x_c)) - 1 AS BIGINT) * 1000000 FROM t")
      .isEmpty,
      "a value-width (length) factor is per-value bounded — the log2 " +
        "kernel's bit-length x 1e6")
    assert(unwidenedScaleMultiplies(
      "SELECT cum_cents * 1000000.0 / total_c FROM t").isEmpty,
      "floating-point chains are the float-seam doctrine's beat, not " +
        "this one's")
    // widening anywhere in a factor counts: HUGEINT propagates through
    // integer division, so the outer multiply is already wide
    val propagated = "SELECT ((CAST(sum_c AS HUGEINT) * 1000 // n) * " +
      "1000000) // d FROM t"
    assert(unwidenedScaleMultiplies(propagated).isEmpty,
      "a widened inner factor makes the whole chain wide")
  }

  /** UTF-8 text of a file under the repo root, where sbt runs tests. */
  private def repoText(path: Path): String = {
    assert(Files.isRegularFile(path),
      s"$path missing — run sbt test from the repo root")
    Files.readString(path)
  }

  /** Non-blank, non-`#` lines of a TSV under tools/. */
  private def toolsTsv(name: String): Seq[String] =
    repoText(Paths.get("tools", name)).linesIterator
      .filter(ln => ln.trim.nonEmpty && !ln.startsWith("#")).toSeq

  /** Rows of a `verdict<TAB>sql` fixture file whose FLAG/PASS verdict
    * the auditor does not reproduce.
    */
  private def fixtureMismatches(name: String,
      auditor: String => Seq[String]): Seq[String] =
    toolsTsv(name).flatMap { ln =>
      val Array(verdict, sql) = ln.split("\t", 2)
      val got = if (auditor(sql).nonEmpty) "FLAG" else "PASS"
      if (got != verdict) Some(s"want=$verdict got=$got: ${sql.take(100)}")
      else None
    }

  test("the overflow auditor matches every verdict in " +
      "tools/overflow_fixtures.tsv") {
    val mismatches =
      fixtureMismatches("overflow_fixtures.tsv", unwidenedScaleMultiplies)
    assert(mismatches.isEmpty,
      "overflow auditor disagrees with its fixture corpus:\n" +
        mismatches.mkString("\n"))
  }

  // ---- query-source sweep ---------------------------------------------
  //
  // The registered-twin tests see the text DuckDB executes; this sweep
  // reads the query SOURCES once and runs the overflow check over every
  // triple-quoted literal and every engine-side expr("...") string, and
  // the two float-seam checks over the triple-quoted literals (the
  // twins' surface). It is what covers the Spark spellings of the
  // overflow class, which never reach the oracle registry.

  private val TripleLit = "(?s)\"\"\"(.*?)\"\"\"".r
  private val ExprLit = """expr\(\s*"((?:[^"\\]|\\.)*)"""".r

  /** (file:line, triple-quoted?, text) per literal in the query files. */
  private lazy val queryLiterals: Seq[(String, Boolean, String)] = {
    val dir = Paths.get("src", "main", "scala", "graft", "queries")
    assert(Files.isDirectory(dir),
      s"$dir missing — run sbt test from the repo root")
    val ls = Files.list(dir)
    val files =
      try ls.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .toSeq.sortBy(_.toString)
      finally ls.close()
    for {
      f <- files
      text = repoText(f)
      (pat, triple) <- Seq(TripleLit -> true, ExprLit -> false)
      m <- pat.findAllMatchIn(text)
    } yield (s"${f.getFileName}:${text.take(m.start).count(_ == '\n') + 1}",
      triple, m.group(1))
  }

  test("no query-source literal carries an overflow or float-seam hazard") {
    assert(queryLiterals.exists(_._2) && queryLiterals.exists(!_._2),
      "the sweep found no triple-quoted or no expr(\"...\") literal")
    val violations = for {
      (site, triple, text) <- queryLiterals
      hit <- unwidenedScaleMultiplies(text) ++ (
        if (triple) unhoppedDecimalDoubleCasts(text) ++ bareRoundHazards(text)
        else Nil)
    } yield s"$site: $hit"
    assert(violations.isEmpty,
      "overflow / float-seam hazard in a query-source literal (see the " +
        "doctrine comments above for the fix each class takes):\n" +
        violations.mkString("\n"))
  }

  // ---- twin-scalability doctrine (round 18, named by two measured
  //      oracle holes) ------------------------------------------------
  //
  // The class: a twin restating a candidate-generation query's
  // quadratic DEFINITION instead of a scalable candidate set. r17's
  // DBSCAN twins (>3600 s at sf1, LIST-kernel all-pairs) and r18's
  // MinHash twins (>1200 s / 57 GB at sf10, inverted-index sum-df^2
  // join) were both this shape; both were retired by restating a
  // scalable candidate structure (grid closure / independent-family
  // banding). Two shapes are flagged — a self-equijoin of a
  // content-unnest CTE on its unnest output column, and a self-join
  // with NO cross-alias equality conjunct (pure pair expansion). An
  // unnest of a LITERAL list (`unnest([...])`, a fixed per-row bucket
  // fanout) is not content, and self-joins WITH an equality conjunct
  // (graph adjacency, grid cells) are ordinary equijoins: both pass.
  // Deliberately-exact baselines are exempt via the ledger
  // tools/twin_scalability_exemptions.tsv (query<TAB>tier-bound
  // justification); tools/twin_scalability_fixtures.tsv pins the
  // heuristic's verdicts.

  private val TwinContentUnnest =
    Pattern.compile("""\bunnest\s*\(\s*(?!\[)""",
      Pattern.CASE_INSENSITIVE)
  private val TwinLiteralUnnest =
    Pattern.compile("""\bunnest\s*\(\s*\[""", Pattern.CASE_INSENSITIVE)
  private val TwinCteHead =
    Pattern.compile("""\b(\w+)\s+AS\s+(?:MATERIALIZED\s+)?\(""",
      Pattern.CASE_INSENSITIVE)
  private val TwinSelfJoin = Pattern.compile(
    """(?<![\w.])(?!(?:FROM|WHERE|SELECT|AND|OR|ON|AS|WHEN|THEN|ELSE|BY|IN)\b)(\w+)""" +
      """(?:\s+(?!(?:LEFT|RIGHT|FULL|OUTER|INNER|CROSS|JOIN)\b)(\w+))?""" +
      """\s+(?:(?:LEFT|RIGHT|FULL|OUTER|INNER|CROSS)\s+)*JOIN\s+""" +
      """(\w+)(?:\s+(?!ON\b)(\w+))?\s+ON\s+""",
    Pattern.CASE_INSENSITIVE)
  private val TwinClauseEnd = Pattern.compile(
    """^(?:WHERE|GROUP\s+BY|QUALIFY|ORDER\s+BY|JOIN|LEFT|RIGHT|INNER|""" +
      """CROSS|UNION|WINDOW|HAVING|LIMIT|SELECT)\b""",
    Pattern.CASE_INSENSITIVE)
  private val TwinCrossEq =
    Pattern.compile("""\b(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)""")

  private def twinCteBodies(sql: String): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    val m = TwinCteHead.matcher(sql)
    while (m.find()) {
      var i = m.end
      var depth = 1
      while (i < sql.length && depth > 0) {
        if (sql(i) == '(') depth += 1
        else if (sql(i) == ')') depth -= 1
        i += 1
      }
      val name = m.group(1).toLowerCase
      if (!out.contains(name)) out(name) = sql.substring(m.end, i - 1)
    }
    out.toMap
  }

  private def twinOnClause(sql: String, start: Int): String = {
    var depth = 0
    var j = start
    var done = false
    while (j < sql.length && !done) {
      val c = sql(j)
      if (c == '(') depth += 1
      else if (c == ')') {
        if (depth == 0) done = true else depth -= 1
      } else if (depth == 0 && (j == start || " \t\n\r|".contains(sql(j - 1)))
          && TwinClauseEnd.matcher(sql).region(j, sql.length).lookingAt()) {
        done = true
      }
      if (!done) j += 1
    }
    sql.substring(start, j)
  }

  /** (shape, cte, detail) per flagged self-join. */
  private[graft] def twinScalabilityFlags(sql: String): Seq[String] = {
    val ctes = twinCteBodies(sql)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = TwinSelfJoin.matcher(sql)
    while (m.find()) {
      if (m.group(1).equalsIgnoreCase(m.group(3))) {
        val name = m.group(1)
        val a1 = Option(m.group(2)).getOrElse(m.group(1))
        val a2 = Option(m.group(4)).getOrElse(m.group(3))
        val on = twinOnClause(sql, m.end)
        val body = ctes.getOrElse(name.toLowerCase, "")
        val eqm = TwinCrossEq.matcher(on)
        val cross = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        while (eqm.find()) {
          if (Set(eqm.group(1), eqm.group(3)) == Set(a1, a2))
            cross += ((eqm.group(2), eqm.group(4)))
        }
        if (cross.isEmpty) {
          out += s"PAIR_EXPANSION on $name (" +
            on.split("\\s+").mkString(" ").take(80) + ")"
        } else if (TwinContentUnnest.matcher(body).find() &&
            !TwinLiteralUnnest.matcher(body).find()) {
          cross.collectFirst {
            case (c1, c2) if c1 == c2 && Pattern.compile(
                """\bunnest\s*\([^)]*\)\s+AS\s+""" + Pattern.quote(c1) +
                  """\b""", Pattern.CASE_INSENSITIVE)
                .matcher(body).find() => c1
          }.foreach(c => out += s"INVERTED_ALLPAIRS on $name ($c)")
        }
      }
    }
    out.toSeq
  }

  private def twinExemptions(): Map[String, String] =
    toolsTsv("twin_scalability_exemptions.tsv").map { ln =>
      val Array(q, reason) = ln.split("\t", 2)
      q -> reason
    }.toMap

  test("no oracle twin restates quadratic candidate generation " +
      "unexempted (the sf10 oracle-hole class)") {
    val exempt = twinExemptions()
    val used = scala.collection.mutable.Set.empty[String]
    val violations = for {
      (qname, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
      site <- twinScalabilityFlags(sql)
      if !exempt.contains(qname) || { used += qname; false }
    } yield s"$qname: $site"
    assert(violations.isEmpty,
      "quadratic candidate generation in oracle twins — restate a " +
        "scalable candidate structure (grid closure / independent-" +
        "family banding, see SimilarityQueries.bandedShingleCtes) or " +
        "add a tier-bound justification to tools/" +
        "twin_scalability_exemptions.tsv:\n" + violations.mkString("\n"))
    val stale = (exempt.keySet -- used).toSeq.sorted
    assert(stale.isEmpty,
      "STALE twin-scalability exemptions (twin no longer flags or is " +
        "not registered — remove the ledger line):\n" +
        stale.mkString("\n"))
  }

  test("the twin-scalability auditor matches every verdict in " +
      "tools/twin_scalability_fixtures.tsv") {
    val mismatches = fixtureMismatches("twin_scalability_fixtures.tsv",
      twinScalabilityFlags)
    assert(mismatches.isEmpty,
      "twin-scalability auditor disagrees with its fixture corpus:\n" +
        mismatches.mkString("\n"))
  }

  /** The sf10 ladder's sampled dbscan oracle (tools/sf10_ladder.py,
    * r19) PARSES its shared constants (eps², minPts, nProbe, minCells,
    * dim) out of the dumped sim_dbscan_bucketed twin SQL, so it cannot
    * carry its own magic literals. That coupling is only safe if the
    * anchors it greps for survive twin respells — and a respell would
    * otherwise surface as a SystemExit ten minutes into a ladder run.
    * Pin the anchors here at test time, and cross-check the two
    * values that have a public Scala definition to compare against.
    */
  test("the sampled-dbscan ladder check's constant-parse anchors hold") {
    val sql = SparkEntry.oracleSql("sim_dbscan_bucketed")
    def one(pat: String): Long = {
      val m = pat.r.findFirstMatchIn(sql)
      assert(m.isDefined,
        s"tools/sf10_ladder.py dbscan_sampled_check anchor no longer " +
          s"matches the twin SQL — update BOTH sides: $pat")
      m.get.group(1).toLong
    }
    one("""array_inner_product\(x\.av, y\.av\)\s*<=\s*(\d+)""")
    one("""n_neighbors \+ 1 >= (\d+)""")
    val nprobe =
      one("""list_sort\(list\(\{'s': s, 'i': ci\}\)\)\), 1, (\d+)\)""")
    val mincells = one("""GREATEST\((\d+), 2 \* \d+ \* CAST\(ceil""")
    one("""AS DOUBLE\[(\d+)\]""")
    assert(nprobe == graft.ops.Similarity.DbscanNProbe,
      "parsed nProbe diverged from Similarity.DbscanNProbe")
    assert(mincells == 4L * nprobe * nprobe,
      "parsed minCells diverged from the 4*nProbe^2 floor")
  }

  /** The sf10 ladder's sampled checks must leave their wall + a host-
    * speed calib IN the artifact and gate the wall against the ladder's
    * own --timeout (r20, VERDICT ask 3): r19's 53 s quiet sampled check
    * read 125 s in the driver's loaded window and the excess was only
    * visible in prose. Pin the artifact keys and the budget gate so a
    * refactor can't silently drop them.
    */
  test("sf10_ladder.py records sampled_wall_s + calib_sec and gates " +
      "the sampled wall against its own timeout") {
    val tool = repoText(Paths.get("tools", "sf10_ladder.py"))
    for (anchor <- Seq("\"sampled_wall_s\": sampled_wall",
        "\"calib_sec\": calib",
        "s[\"sec\"] > args.timeout"))
      assert(tool.contains(anchor),
        s"sf10_ladder.py lost its sampled-budget anchor: $anchor")
  }

  /** tools/aba_bench.py runs graft.Bench via DIRECT java and therefore
    * duplicates build.sbt's jdk17AddOpens list; a build.sbt change
    * that doesn't reach the tool produces IllegalAccessErrors only at
    * the next cross-round triage. Keep the two lists in lockstep.
    */
  test("aba_bench.py's add-opens list matches build.sbt's") {
    def pkgs(path: String): Set[String] =
      """java\.base/[\w.]+""".r.findAllIn(repoText(Paths.get(path))).toSet
    val sbtList = pkgs("build.sbt")
    val toolList = pkgs("tools/aba_bench.py")
    assert(sbtList == toolList,
      "build.sbt jdk17AddOpens and tools/aba_bench.py ADD_OPENS_PKGS " +
        s"diverged: only-sbt=${(sbtList -- toolList).toSeq.sorted} " +
        s"only-tool=${(toolList -- sbtList).toSeq.sorted}")
  }

  /** tools/aba_bench.py PARSES its cpu clamp out of Bench.scala (r20,
    * replacing a hardcoded 16 that would have silently survived a
    * host-regime re-measure). The parse is only safe while its anchor
    * regex matches the source AND yields the value the compiled
    * constant actually has — pin both, same pattern as the sampled-
    * dbscan anchors above.
    */
  test("aba_bench.py's PhysicalCores parse anchor matches Bench.scala " +
      "and yields Bench.PhysicalCores") {
    val tool = repoText(Paths.get("tools", "aba_bench.py"))
    val anchorDef =
      """PHYSICAL_CORES_ANCHOR = r"([^"]+)"""".r.findFirstMatchIn(tool)
    assert(anchorDef.isDefined,
      "tools/aba_bench.py no longer defines PHYSICAL_CORES_ANCHOR")
    val bench = repoText(Paths.get("src", "main", "scala", "graft",
      "Bench.scala"))
    val parsed = anchorDef.get.group(1).r.findFirstMatchIn(bench)
    assert(parsed.isDefined,
      "aba_bench.py's PhysicalCores anchor no longer matches " +
        "Bench.scala — update BOTH sides")
    assert(parsed.get.group(1).toInt == Bench.PhysicalCores,
      "aba_bench.py's anchor parses a different value than the " +
        "compiled Bench.PhysicalCores")
  }

  /** The ABA per-query verdict rule (ok / too-noisy / regressed /
    * missing) lives only in tools/aba_bench.py, which runs it; its
    * `--selftest` checks it against tools/aba_verdict_fixtures.tsv in
    * well under a second, with no JVM or Spark.
    */
  test("tools/aba_bench.py --selftest passes on its verdict fixtures") {
    val proc =
      try new ProcessBuilder("python3", "tools/aba_bench.py", "--selftest")
        .redirectErrorStream(true).start()
      catch {
        case e: java.io.IOException =>
          fail(s"python3 is needed to run the ABA verdict selftest: $e")
      }
    val out = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val code = proc.waitFor()
    assert(code == 0 && out.linesIterator.contains("[aba] selftest: OK"),
      s"tools/aba_bench.py --selftest exited $code:\n$out")
  }

  /** Every session in src/main is built by GraftSession.builder, so the
    * conf (time zone, nanosAsLong, codegen cache) cannot fork again.
    * Test sources are exempt: GraftExtensionsSpec and
    * PersistDynAllocSpec test session-level settings on purpose.
    */
  test("SparkSession.builder() occurs in src/main only in GraftSession.scala") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root),
      s"$root missing — run sbt test from the repo root")
    val s = Files.walk(root)
    val offenders =
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "GraftSession.scala")
        .filter(p => repoText(p).contains("SparkSession.builder()"))
        .map(_.toString).toSeq.sorted
      finally s.close()
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.builder instead: $offenders")
  }

  /** A bounded driver fetch goes through graft.ops.Bounded, the one
    * owner of the `limit(max + 1)` probe, its Int clamp and the no-job
    * `max <= 0` case. A `.limit(… + 1)` feeding an action anywhere else
    * in src/main is a hand-rolled copy of that rule. A top-(k+1)
    * selection that stays a DataFrame (no action on the limit) is not a
    * probe and passes.
    */
  test("a limit(n + 1) probe occurs in src/main only in Bounded.scala") {
    val probe = ("""\.limit\((?:[^()]|\([^()]*\))*\+\s*1\)\s*""" +
      """\.(?:collect|collectAsList|count|take|head|first|isEmpty|toLocalIterator)\b""").r
    assert(probe.findFirstIn("df.limit(n + 1).collect()").isDefined &&
      probe.findFirstIn("df.limit(math.min(b, 9) + 1)\n  .count()").isDefined &&
      probe.findFirstIn("df.limit(k + 1).persistIntermediate").isEmpty,
      "the probe pattern no longer matches its own spellings")
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root),
      s"$root missing — run sbt test from the repo root")
    val s = Files.walk(root)
    val offenders =
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Bounded.scala")
        .flatMap { p =>
          val text = repoText(p)
          probe.findAllMatchIn(text).map(m =>
            (p.toString, text.substring(0, m.start).count(_ == '\n') + 1))
        }.toSeq.sorted.map { case (p, line) => s"$p:$line" }
      finally s.close()
    assert(offenders.isEmpty,
      s"fetch through graft.ops.Bounded instead: $offenders")
  }

  /** Every parquet read in src/main goes through graft.sources.ParquetRead,
    * which takes the schema from one footer on the driver; a
    * `spark.read…parquet(` elsewhere infers it with a Spark job per read.
    * The pattern follows option chains, so `spark.read.option(…).parquet(`
    * counts too. The ledger names, by file and enclosing def, the reads
    * that need Spark's own inference, each with its reason.
    */
  private val inferringParquetReadExempt = Map(
    ("SourceQueries.scala", "sourcePartitionPruning") -> "reads back a Hive day= layout: needs partition discovery",
    ("SourceQueries.scala", "sourceMergeSchema") -> "mergeSchema unions every file's footer, which one footer cannot give")

  test("a parquet read occurs in src/main only in ParquetRead.scala") {
    val read = """\.read(?:\s*\.\w+\((?:[^()]|\([^()]*\))*\))*\s*\.parquet\(""".r
    assert(read.findFirstIn("spark.read.parquet(p)").isDefined &&
      read.findFirstIn("spark.read.option(\"mergeSchema\", \"true\")\n  .parquet(a, b)").isDefined &&
      read.findFirstIn("spark.readStream.schema(s).parquet(dir)").isEmpty &&
      read.findFirstIn("spark.read.schema(s).csv(dir)").isEmpty &&
      read.findFirstIn("df.write.mode(\"overwrite\").parquet(dir)").isEmpty,
      "the read pattern no longer matches its own spellings")
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root),
      s"$root missing — run sbt test from the repo root")
    val defName = """\bdef\s+(\w+)""".r
    val s = Files.walk(root)
    val sites =
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "ParquetRead.scala")
        .flatMap { p =>
          val text = repoText(p)
          read.findAllMatchIn(text).map { m =>
            val before = text.substring(0, m.start)
            val enclosing = defName.findAllMatchIn(before).toSeq.lastOption
              .map(_.group(1)).getOrElse("")
            ((p.getFileName.toString, enclosing),
              s"$p:${before.count(_ == '\n') + 1} ($enclosing)")
          }
        }.toSeq.sortBy(_._2)
      finally s.close()
    val offenders = sites.filterNot(x => inferringParquetReadExempt.contains(x._1)).map(_._2)
    assert(offenders.isEmpty,
      s"read parquet through graft.sources.ParquetRead instead: $offenders")
    val stale = inferringParquetReadExempt.keySet -- sites.map(_._1)
    assert(stale.isEmpty, s"exemption ledger names reads that are gone: $stale")
  }

  /** The engine works its settings out from what the session shows
    * (Persist reads `spark.dynamicAllocation.enabled` and
    * `spark.checkpoint.dir`); it defines no conf key of its own. A
    * `"spark.graft.` literal in src/main is a new user-set knob. The
    * ledger of such keys, by file name, is empty.
    */
  private val graftConfKeyExempt = Set.empty[String]

  test("no spark.graft.* conf key literal occurs in src/main") {
    val key = "\"spark.graft."
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root),
      s"$root missing — run sbt test from the repo root")
    val s = Files.walk(root)
    val offenders =
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          !graftConfKeyExempt.contains(p.getFileName.toString))
        .flatMap { p =>
          repoText(p).linesIterator.zipWithIndex
            .filter(_._1.contains(key)).map(l => s"$p:${l._2 + 1}")
        }.toSeq.sorted
      finally s.close()
    assert(offenders.isEmpty,
      s"derive the setting from the session instead of a conf key: $offenders")
  }

  /** Every persisted frame in src/main is pinned through
    * graft.ops.Persist, the one place that picks the mechanism from the
    * session. A `.cache()`, `.persist(`, `.localCheckpoint(` or
    * `.checkpoint(` call elsewhere is a pin the session rule cannot
    * see. The ledger of such calls, by file name, is empty.
    */
  private val directPersistExempt = Set.empty[String]

  test("a cache/persist/checkpoint call occurs in src/main only in Persist.scala") {
    val pin = """\.(?:cache\(\)|persist\(|localCheckpoint\(|checkpoint\()""".r
    assert(pin.findFirstIn("      .cache()").isDefined &&
      pin.findFirstIn("df.persist(StorageLevel.MEMORY_ONLY)").isDefined &&
      pin.findFirstIn("df.localCheckpoint(false)").isDefined &&
      pin.findFirstIn("df.checkpoint(true)").isDefined &&
      pin.findFirstIn("df.persistIntermediate").isEmpty &&
      pin.findFirstIn("Bridge.unpersistLocalCheckpoint(df)").isEmpty &&
      pin.findFirstIn("sc.setCheckpointDir(dir)").isEmpty,
      "the persistence pattern no longer matches its own spellings")
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root),
      s"$root missing — run sbt test from the repo root")
    val s = Files.walk(root)
    val offenders =
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Persist.scala" &&
          !directPersistExempt.contains(p.getFileName.toString))
        .flatMap { p =>
          repoText(p).linesIterator.zipWithIndex
            .filter(l => pin.findFirstIn(l._1).isDefined)
            .map(l => s"$p:${l._2 + 1}")
        }.toSeq.sorted
      finally s.close()
    assert(offenders.isEmpty,
      s"pin frames through graft.ops.Persist instead: $offenders")
  }

  /** The trade graph has at most 550 edges and reaches every query as
    * driver rows, so a graph operator over it needs no persist and no
    * checkpoint: re-scanning a LocalRelation runs nothing, and every
    * iterative operator is a plain function over the fetched rows. In
    * each file of this list a `truncateLineage`, `persistIntermediate`,
    * `persistHotIntermediate` or `Bridge.unpersistLocalCheckpoint`
    * occurs only inside a member def of the file's ledger, each with
    * its reason. StronglyConnectedComponents.scala labels SCCs with
    * Tarjan on the driver; its ledger is empty.
    */
  private val graphPersistLedgers = Seq(
    Paths.get("src", "main", "scala", "graft", "queries", "GraphQueries.scala") -> Map(
      "copurchasePairs" -> "the basket self-join grows with lineitem, not with the trade graph"),
    Paths.get("src", "main", "scala", "graft", "ops", "StronglyConnectedComponents.scala") ->
      Map.empty[String, String])

  /** Each persist or checkpoint site in `text` as (enclosing object
    * member def, 1-based line). The member is the last two-space
    * indented def before the site, so a def nested inside a member
    * counts as that member.
    */
  private[graft] def graphPersistSites(text: String): Seq[(String, Int)] = {
    val pin = """\.(?:truncateLineage|persistIntermediate|persistHotIntermediate)\b|Bridge\.unpersistLocalCheckpoint\(""".r
    val defName = """(?m)^  (?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r
    pin.findAllMatchIn(text).map { m =>
      val before = text.substring(0, m.start)
      val enclosing = defName.findAllMatchIn(before).toSeq.lastOption
        .map(_.group(1)).getOrElse("")
      (enclosing, before.count(_ == '\n') + 1)
    }.toSeq
  }

  for ((path, ledger) <- graphPersistLedgers)
    test(s"a persist or checkpoint in ${path.getFileName} occurs only in a ledgered def") {
      val sites = graphPersistSites(repoText(path))
      val offenders = sites.filterNot(x => ledger.contains(x._1))
        .map { case (d, l) => s"$path:$l ($d)" }
      assert(offenders.isEmpty,
        s"the trade graph is driver rows; drop the persist or ledger its def: $offenders")
      val stale = ledger.keySet -- sites.map(_._1)
      assert(stale.isEmpty, s"ledger names defs that no longer persist: $stale")
    }

  test("the graph persist auditor fires on every spelling (bad fixture)") {
    val bad =
      """object StronglyConnectedComponents {
        |  def resolve(nodes: DataFrame): DataFrame = {
        |    def round(df: DataFrame) = df.truncateLineage(true)
        |    val a = nodes.persistIntermediate
        |    val b = nodes.persistHotIntermediate
        |    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(a)
        |    round(b)
        |  }
        |  private[graft] def tarjanLabels(es: Array[(Long, Long)]) =
        |    es.toSeq.toDF().truncateLineage()
        |}
        |""".stripMargin
    assert(graphPersistSites(bad) == Seq(("resolve", 3), ("resolve", 4),
      ("resolve", 5), ("resolve", 6), ("tarjanLabels", 10)))
    val good =
      """object StronglyConnectedComponents {
        |  /** see [[Persist.truncate]] */
        |  def resolveLocal(nodes: DataFrame) = nodes.select("node")
        |}
        |""".stripMargin
    assert(graphPersistSites(good).isEmpty)
  }

  /** A lazy truncation (`truncateLineage(false)`, `Persist.truncate(…,
    * eager = false)`) is complete only if the frame's next action scans
    * every partition: an action that short-circuits (a narrow
    * `isEmpty`, a `take`) leaves a partial checkpoint behind. In
    * src/main such a call occurs only inside a member def of this
    * ledger, keyed by file name and def, each naming the action that
    * completes it.
    */
  private val lazyTruncateLedger = Map(
    ("ConnectedComponents.scala", "resolveStar") ->
      "each round's convergence groupBy shuffles every partition of `next`",
    ("TwoPassWindow.scala", "pidded") ->
      "every caller's per-partition count aggregate scans the pidded frame")

  /** Each lazy truncation in `text` as (enclosing object member def,
    * 1-based line); the member is found as in [[graphPersistSites]].
    */
  private[graft] def lazyTruncateSites(text: String): Seq[(String, Int)] = {
    // call arguments nest parentheses up to three deep
    val p1 = """\([^()]*\)"""
    val p2 = """\((?:[^()]|""" + p1 + """)*\)"""
    val site = ("""\.truncateLineage\(\s*(?:eager\s*=\s*)?false\s*\)""" +
      """|\btruncate\((?:[^()]|""" + p2 + """)*?,\s*(?:eager\s*=\s*)?false\s*\)""").r
    val defName = """(?m)^  (?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r
    site.findAllMatchIn(text).map { m =>
      val before = text.substring(0, m.start)
      val enclosing = defName.findAllMatchIn(before).toSeq.lastOption
        .map(_.group(1)).getOrElse("")
      (enclosing, before.count(_ == '\n') + 1)
    }.toSeq
  }

  test("a lazy truncation occurs in src/main only in a ledgered def") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root),
      s"$root missing — run sbt test from the repo root")
    val s = Files.walk(root)
    val sites =
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Persist.scala")
        .flatMap { p =>
          lazyTruncateSites(repoText(p)).map { case (d, l) =>
            ((p.getFileName.toString, d), s"$p:$l ($d)")
          }
        }.toSeq.sortBy(_._2)
      finally s.close()
    val offenders = sites.filterNot(x => lazyTruncateLedger.contains(x._1)).map(_._2)
    assert(offenders.isEmpty,
      s"truncate eagerly, or ledger the def with the action that completes it: $offenders")
    val stale = lazyTruncateLedger.keySet -- sites.map(_._1)
    assert(stale.isEmpty, s"ledger names defs that no longer truncate lazily: $stale")
  }

  test("the lazy truncation auditor fires on every spelling (bad fixture)") {
    val bad =
      """object TwoPassWindow {
        |  def a(df: DataFrame) = df.truncateLineage(false)
        |  private def b(df: DataFrame) = df.truncateLineage(eager = false)
        |  private[graft] def c(df: DataFrame, cols: Seq[Column]) =
        |    Persist.truncate(
        |      df.repartitionByRange(cols: _*)
        |        .withColumn("p", spark_partition_id()),
        |      eager = false)
        |  def d(df: DataFrame) = truncate(df, false)
        |}
        |""".stripMargin
    assert(lazyTruncateSites(bad) == Seq(("a", 2), ("b", 3), ("c", 5), ("d", 9)))
    val good =
      """object TwoPassWindow {
        |  def a(df: DataFrame) = df.truncateLineage(true)
        |  def b(df: DataFrame) = df.truncateLineage()
        |  def c(df: DataFrame) = Persist.truncate(df.select("x"), eager = true)
        |  def d(ds: Dataset[T], eager: Boolean) = truncate(ds, eager)
        |}
        |""".stripMargin
    assert(lazyTruncateSites(good).isEmpty)
  }

  /** Money is rounded to cents in one place: `graft.ops.ExactAgg.cents`
    * (a DECIMAL(18,2) cast, then ×100), which `exactSum`/`exactAvg`
    * build on. In src/main a Scala `.cast(DecimalType(18, 2))` or
    * `.cast("decimal(18,2)")` followed by `* 100` is a second copy of
    * that rule, and `exactSumCents` names the deleted single-long sum.
    * Triple-quoted literals (the DuckDB twins' SQL) are skipped; a
    * DECIMAL(18,2) cast that is not scaled to cents (the rollup/cube
    * leaf accumulators, StatQueries' regression moments) passes.
    * Returns the 1-based line of each site in `text`.
    */
  private[graft] def centsRoundingSites(text: String): Seq[Int] = {
    val code = TripleLit.replaceAllIn(text,
      m => java.util.regex.Matcher.quoteReplacement(
        m.matched.map(c => if (c == '\n') c else ' ')))
    val site = ("""\.cast\(\s*(?:(?:org\.apache\.spark\.sql\.types\.)?""" +
      """DecimalType\(\s*18\s*,\s*2\s*\)|"decimal\(18,\s*2\)")\s*\)\)?""" +
      """\s*\*\s*(?:lit\(\s*)?100\b|\bexactSumCents\b""").r
    site.findAllMatchIn(code)
      .map(m => code.substring(0, m.start).count(_ == '\n') + 1).toSeq
  }

  test("the cents rounding is spelled in src/main only in ExactAgg.scala") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root),
      s"$root missing — run sbt test from the repo root")
    val s = Files.walk(root)
    val offenders =
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "ExactAgg.scala")
        .flatMap(p => centsRoundingSites(repoText(p)).map(l => s"$p:$l"))
        .toSeq.sorted
      finally s.close()
    assert(offenders.isEmpty,
      s"round money through graft.ops.ExactAgg.cents / exactSum instead: $offenders")
  }

  test("the cents rounding auditor fires on every spelling (bad fixture)") {
    val bad =
      """val a = (col("p").cast(DecimalType(18, 2)) * 100).cast(LongType)
        |val b = sum(col("p").cast("decimal(18,2)") * 100).cast("long")
        |val c = sum(col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2))
        |  * 100).cast("long")
        |val d = (col("o")
        |  .cast(DecimalType(18,2)) * lit(100)).cast("long")
        |val e = ExactAgg.exactSumCents(col("p"))
        |""".stripMargin
    assert(centsRoundingSites(bad) == Seq(1, 2, 3, 6, 7))
    val good =
      "val a = ExactAgg.cents(col(\"p\"))\n" +
        "val b = sum(col(\"p\").cast(DecimalType(18, 2))).as(\"__rev\")\n" +
        "val c = col(\"q\").cast(DecimalType(18, 2)).as(\"x\")\n" +
        "val sql = \"\"\"SELECT SUM(CAST(p AS DECIMAL(18,2)) * 100),\n" +
        "  x.cast(\"decimal(18,2)\") * 100 FROM t\"\"\"\n" +
        "val d = ExactAgg.exactSum(col(\"p\"))\n"
    assert(centsRoundingSites(good).isEmpty)
  }

  /** Rows parsed on the driver enter Spark through
    * `graft.sources.DriverRows.stringFrame`, an RDD-backed frame. In
    * src/main/scala/graft/sources, a `createDataFrame(java.util…` or an
    * `Arrays.asList` (the local-relation spelling, which converts every
    * row on the driver and is re-mapped by every optimizer rule) is a
    * second way in. Returns the 1-based line of each site in `text`.
    */
  private[graft] def localRelationSources(text: String): Seq[Int] = {
    val site = """createDataFrame\(\s*java\.util\b|\bArrays\.asList\b""".r
    site.findAllMatchIn(text)
      .map(m => text.substring(0, m.start).count(_ == '\n') + 1).toSeq
  }

  test("a local-relation frame occurs nowhere in src/main/scala/graft/sources") {
    val root = Paths.get("src", "main", "scala", "graft", "sources")
    assert(Files.isDirectory(root),
      s"$root missing — run sbt test from the repo root")
    val s = Files.walk(root)
    val offenders =
      try s.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap(p => localRelationSources(repoText(p)).map(l => s"$p:$l"))
        .toSeq.sorted
      finally s.close()
    assert(offenders.isEmpty,
      s"build driver-parsed rows with DriverRows.stringFrame instead: $offenders")
  }

  test("the local-relation auditor fires on both spellings (bad fixture)") {
    val bad =
      """val df = spark.createDataFrame(
        |  java.util.Arrays.asList(rows: _*), schema)
        |val other = spark.createDataFrame(java.util.List.of(row), schema)
        |val list = Arrays.asList(a, b)
        |""".stripMargin
    assert(localRelationSources(bad) == Seq(1, 2, 3, 4))
    val good =
      """DriverRows.stringFrame(spark, t.columns, t.rows.map(_.toArray))
        |spark.createDataFrame(sc.parallelize(rows, n), schema)
        |""".stripMargin
    assert(localRelationSources(good).isEmpty)
  }
}
