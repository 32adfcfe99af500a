package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Brute-force recompute pins for the round-10 fourth-session
  * operators (fixed data + deterministic arithmetic ⇒ exact
  * assertions), independent of both the Spark plan shape and the
  * DuckDB oracle.
  */
class Round10dOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf001

  /** Daily (returnflag, day, qty_cents, rev_cents) series — the shared
    * input of the rank-correlation pins.
    */
  private lazy val daily: Map[String, Array[(Long, Long)]] =
    graft.queries.RefQueries.table(spark, sf, "lineitem")
      .selectExpr("l_returnflag AS g", "l_shipdate AS day",
        "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc")
      .groupBy("g", "day").agg(sum("xc").as("x"), sum("yc").as("y"))
      .orderBy("g", "day")
      .collect()
      .map(r => (r.getString(0), (r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  test("analytics_kendall_tau equals a driver-side O(n^2) pair count") {
    val got = graft.queries.StatQueries.analyticsKendallTau(spark, sf)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.keySet == daily.keySet)
    daily.foreach { case (g, xs) =>
      var nc, nd, tx, ty = 0L
      val n = xs.length
      for (i <- 0 until n; j <- i + 1 until n) {
        val dx = java.lang.Long.compare(xs(j)._1, xs(i)._1)
        val dy = java.lang.Long.compare(xs(j)._2, xs(i)._2)
        if (dx == 0) tx += 1
        if (dy == 0) ty += 1
        if (dx * dy > 0) nc += 1
        else if (dx * dy < 0) nd += 1
      }
      val n0 = n.toLong * (n - 1) / 2
      val tau = (nc - nd).toDouble / math.sqrt(((n0 - tx) * (n0 - ty)).toDouble)
      val (gn, gnc, gnd, gtau) = got(g)
      assert(gn == n && gnc == nc && gnd == nd, s"$g count mismatch")
      assert(gtau == tau, s"$g tau ${gtau} != $tau")
      assert(gtau >= -1.0 && gtau <= 1.0)
    }
  }

  /** Runs `body` on a temporary scale-factor directory holding one
    * `lineitem.parquet` of (l_returnflag, l_shipdate, l_quantity,
    * l_extendedprice) rows, for the NULL and bound contracts no test SF
    * exercises, and deletes it after. Day `i` is 2020-01-01 plus `i`
    * days (UTC); `None` is a NULL.
    */
  private def withLineitem[T](rows: Seq[(Option[String], Option[Int],
      Option[Double], Option[Double])])(body: String => T): T = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("lineitem-fixture")
    val day0 = java.time.LocalDate.of(2020, 1, 1)
    val schema = StructType(Seq(
      StructField("l_returnflag", StringType),
      StructField("l_shipdate", TimestampType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType)))
    val data = rows.map { case (g, d, q, p) =>
      Row(g.orNull, d.map(i => java.sql.Timestamp.from(
          day0.plusDays(i.toLong).atStartOfDay(java.time.ZoneOffset.UTC)
            .toInstant)).orNull,
        q.map(Double.box).orNull, p.map(Double.box).orNull)
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    try {
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
        .write.parquet(dir.resolve("lineitem.parquet").toString)
      body(dir.toString)
    } finally rm(dir.toFile)
  }

  test("analytics_kendall_tau counts NULL daily sums with SQL three-valued logic") {
    // NULL quantity or price sums, a NULL day, a one-day group and a
    // NULL returnflag: the pair still counts in n0, a tie only when
    // both sides are known, and a concordance only when both
    // differences are; the NULL day counts in n_days and pairs with
    // nothing; the one-day and NULL-flag groups have no pair row.
    // Values are the DuckDB twin's, which the former distributed
    // spelling (taken on any NULL sum) returned too.
    val A = Some("A"); val B = Some("B")
    val got = withLineitem(Seq(
      (A, Some(0), Some(1.0), Some(10.0)), (A, Some(0), Some(1.5), Some(1.0)),
      (A, Some(1), Some(2.0), Some(30.0)),
      (A, Some(2), None, Some(20.0)),
      (A, Some(3), Some(3.0), None),
      (A, Some(4), Some(2.0), Some(15.0)),
      (A, Some(5), None, None),
      (A, None, Some(5.0), Some(50.0)),
      (B, Some(0), Some(4.0), Some(40.0)), (B, Some(1), Some(3.0), Some(50.0)),
      (B, Some(2), None, Some(60.0)), (B, Some(3), Some(5.0), Some(60.0)),
      (Some("N"), Some(0), Some(1.0), Some(1.0)),
      (None, Some(0), Some(1.0), Some(1.0)), (None, Some(1), Some(2.0), Some(2.0)))) {
      sf => graft.queries.StatQueries.analyticsKendallTau(spark, sf)
        .collect().toSeq.map(_.toSeq)
    }
    assert(got == Seq(Seq("A", 7L, 0L, 2L, -0.13801311186847084),
      Seq("B", 4L, 2L, 1L, 0.18257418583505536)), s"got $got")
  }

  test("analytics_theil_sen pairs a NULL revenue day but skips its slopes") {
    // day 2's prices are all NULL: its five pairs count in n_pairs (the
    // twin's COUNT(*)) and its slopes stay out of the median (median()
    // skips NULLs); the NULL-shipdate row pairs with nothing
    val got = withLineitem(Seq(
      (Some("A"), Some(0), Some(1.0), Some(100.0)),
      (Some("A"), Some(1), Some(1.0), Some(130.0)),
      (Some("A"), Some(2), Some(1.0), None), (Some("A"), Some(2), Some(1.0), None),
      (Some("A"), Some(3), Some(1.0), Some(90.0)),
      (Some("A"), Some(4), Some(1.0), Some(160.0)),
      (Some("A"), Some(7), Some(1.0), Some(175.5)),
      (Some("A"), None, Some(1.0), Some(999.0)))) {
      sf => graft.queries.StatQueries.analyticsTheilSen(spark, sf)
        .collect().toSeq.map(_.toSeq)
    }
    assert(got == Seq(Seq(15L, 1039285714.0)), s"got $got")
  }

  test("analytics_theil_sen fails loudly on a rollup past its 2828-day bound") {
    val e = withLineitem((0 until 2829).map(i =>
        (Some("A"), Some(i), Some(1.0), Some(1.0 + i)))) { sf =>
      intercept[IllegalStateException] {
        graft.queries.StatQueries.analyticsTheilSen(spark, sf).collect()
      }
    }
    assert(e.getMessage.contains("theil-sen daily rollup"), e.getMessage)
  }

  test("analytics_theil_sen median slope sits inside the slope range") {
    val row = graft.queries.StatQueries.analyticsTheilSen(spark, sf).collect()(0)
    val revByDay = graft.queries.RefQueries.table(spark, sf, "lineitem")
      .selectExpr(
        "CAST(unix_millis(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000 AS BIGINT) AS d",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c")
      .groupBy("d").agg(sum("c").as("rev"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = revByDay.length
    assert(row.getLong(0) == n.toLong * (n - 1) / 2, "pair count")
    // exact driver-side recompute: scaled integer slopes, lower/upper
    // median interpolation — the same arithmetic the query commits to
    val slopes = (for {
      i <- 0 until n; j <- i + 1 until n
    } yield math.floor((revByDay(j)._2 - revByDay(i)._2).toDouble * 1e6 /
        (revByDay(j)._1 - revByDay(i)._1)).toLong).sorted
    val m = slopes.length
    val want =
      if (m % 2 == 1) slopes(m / 2).toDouble
      else (slopes(m / 2 - 1) + slopes(m / 2)) / 2.0
    assert(row.getDouble(1) == want, s"median ${row.getDouble(1)} != $want")
  }

  test("analytics_changepoint maximizes the integer mean-gap objective") {
    val row = graft.queries.StatQueries.analyticsChangepoint(spark, sf).collect()(0)
    val revByDay = graft.queries.RefQueries.table(spark, sf, "lineitem")
      .selectExpr(
        "CAST(unix_millis(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000 AS BIGINT) AS d",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c")
      .groupBy("d").agg(sum("c").as("rev"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = revByDay.length.toLong
    val s = revByDay.map(_._2).sum
    var p = 0L
    var best = (0L, 0L, 0L) // (|gap|, -day ordering handled via first-wins)
    var found: Option[(Long, Long, Long)] = None // (day, k, gap)
    revByDay.zipWithIndex.dropRight(1).foreach { case ((d, rev), i) =>
      p += rev
      val k = i + 1L
      val gap = (n - k) * p - k * (s - p)
      if (found.isEmpty || math.abs(gap) > math.abs(found.get._3))
        found = Some((d, k, gap))
    }
    val (wd, wk, wgap) = found.get
    assert(row.getLong(0) == wd, "split day")
    assert(row.getLong(1) == wk && row.getLong(2) == n - wk, "segment sizes")
    assert(row.getLong(5) == wgap, "gap")
    assert(row.getLong(1) + row.getLong(2) == n)
  }

  test("analytics_weighted_median satisfies the half-weight property") {
    val rows = graft.queries.StatQueries.analyticsWeightedMedian(spark, sf)
      .collect()
    assert(rows.length == 3)
    val li = graft.queries.RefQueries.table(spark, sf, "lineitem")
      .selectExpr("l_returnflag AS g",
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p",
        "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS w")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.foreach { r =>
      val (g, tw, med) = (r.getString(0), r.getLong(1), r.getLong(2))
      val grp = li.filter(_._1 == g)
      assert(grp.map(_._3).sum == tw, s"$g total weight")
      val below = grp.filter(_._2 <= med).map(_._3).sum
      val above = grp.filter(_._2 >= med).map(_._3).sum
      assert(2 * below >= tw, s"$g: lower half-weight violated")
      assert(2 * above >= tw, s"$g: upper half-weight violated")
      // minimality: the next-smaller distinct price must NOT reach half
      val smaller = grp.filter(_._2 < med)
      if (smaller.nonEmpty)
        assert(2 * smaller.map(_._3).sum < tw, s"$g: not the minimal price")
    }
  }

  test("dedup_semantic pairs are a subset of the exact cosine pairs") {
    val sem = graft.queries.SimilarityQueries.dedupSemantic(spark, sf).collect()
    val exact = graft.queries.SimilarityQueries
      .dedupEmbeddingCosine(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dropped = sem.filter(!_.getBoolean(2))
    assert(dropped.nonEmpty, "fixture has no semantic duplicates")
    dropped.foreach { r =>
      val (vec, rep) = (r.getLong(0), r.getLong(3))
      assert(rep < vec, s"rep $rep !< vec $vec")
      // cell-blocked domination can only keep pairs the exact operator
      // found — blocking trades recall, never precision
      assert(exact.contains((rep, vec)),
        s"semantic pair ($rep,$vec) not in the exact cosine pairs")
    }
    sem.filter(_.getBoolean(2)).foreach(r =>
      assert(r.getLong(0) == r.getLong(3), "kept row must self-represent"))
  }

  test("graph_harmonic agrees with closeness on reach and bounds") {
    val L = 5354228880L
    val harm = graft.queries.GraphQueries.graphHarmonic(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val close = graft.queries.GraphQueries.graphCloseness(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    harm.foreach { case (node, (nReached, sc)) =>
      // closeness counts the root itself; harmonic excludes dist=0
      val (cReached, totalDist) = close(node)
      assert(nReached == cReached - 1,
        s"$node: harmonic reach $nReached != closeness reach ${cReached - 1}")
      // each reached node contributes L/d with 1 <= d <= totalDist
      assert(sc <= nReached * L, s"$node: harmonic above all-dist-1 bound")
      if (nReached > 0)
        assert(sc >= L / 24 * nReached, s"$node: below all-dist-24 bound")
    }
  }

  test("BMP encoder round-trips through the JDK reader at all paddings") {
    val dec = new graft.ops.MediaCodecs.RasterDecoder
    // widths 1..9 cross every 4-byte stride padding case (3w mod 4)
    (1 to 9).foreach { w =>
      val row = Array.tabulate(w)(i => ((i * 37 + 11) % 256).toByte)
      val bmp = graft.ops.MediaCodecs.encodeGrayBmp(row)
      assert(bmp.length == 54 + (3 * w + 3) / 4 * 4, s"w=$w container size")
      val Some((dw, dh, plane)) = dec.decodeLumaDims(bmp)
      assert(dw == w && dh == 1, s"w=$w geometry")
      assert(plane.toSeq == row.map(_ & 0xff).toSeq, s"w=$w samples")
    }
  }

  test("XML roundtrip survives markup metacharacters in values") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-xml-spec"
    val df = Seq((1L, "a & b < c > d"), (2L, "plain"), (3L, "\"quoted\" 'apos'"))
      .toDF("id", "s")
    df.write.mode("overwrite").format("xml")
      .option("rootTag", "rows").option("rowTag", "row").save(dir)
    val back = spark.read
      .schema(df.schema).option("rowTag", "row").format("xml").load(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == Map(1L -> "a & b < c > d", 2L -> "plain",
      3L -> "\"quoted\" 'apos'"))
  }

  test("sim_ann_recall_ivf reports bounded recall over k=5 truth sets") {
    val rows = graft.queries.SimilarityQueries.simAnnRecallIvf(spark, sf)
      .collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(1) == 5, "truth set size")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 5)
      assert(r.getLong(3) == r.getLong(2) * 1000000L / 5)
    }
  }

  test("BPE encode decodes back to the tokenized words (roundtrip)") {
    import graft.ops.{Bpe, TextOps}
    val docs = graft.queries.RefQueries.table(spark, sf, "documents")
      .select("doc_id", "text")
    val (_, types) = Bpe.learn(docs, graft.queries.BpeQueries.Rounds)
    val enc = Bpe.encode(docs, types, Bpe.vocab(types))
    val rebuilt = enc
      .groupBy("doc_id", "pos")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("sp"), col("sym")))),
          x => x.getField("sym")), "").as("w"))
    val orig = docs.select(col("doc_id"),
      posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "word")))
    val joined = rebuilt.join(orig, Seq("doc_id", "pos"), "full")
    assert(joined.where(col("w").isNull || col("word").isNull).count() == 0,
      "encode dropped or invented word positions")
    assert(joined.where(col("w") =!= col("word")).count() == 0,
      "a merged segmentation does not concatenate back to its word")
  }

  test("analytics_cramers_v totals the chi2 gate's cells in exact ppm") {
    val row = graft.queries.StatQueries.analyticsCramersV(spark, sf).collect()(0)
    val cells = graft.queries.StatQueries.analyticsChi2(spark, sf).collect()
    val wantPpm = cells.map(r =>
      math.floor(r.getAs[Double]("chi2_cell") * 1000000.0).toLong).sum
    assert(row.getAs[Long]("chi2_ppm") == wantPpm)
    val v = row.getAs[Double]("cramers_v")
    assert(v >= 0.0 && v <= 1.0, s"V $v out of range")
    assert(row.getAs[Long]("r") == 7 && row.getAs[Long]("c") == 5)
  }

  test("olap_ratio_to_parent shares telescope to one at every level") {
    val rows = graft.queries.OlapQueries.olapRatioToParent(spark, sf).collect()
    assert(rows.length == 25)
    val byRegion = rows.groupBy(_.getString(0))
    byRegion.foreach { case (reg, ns) =>
      val ppm = ns.map(_.getAs[Long]("share_of_region_ppm")).sum
      // floored ppm: each nation loses < 1 ppm
      assert(ppm <= 1000000L && ppm > 1000000L - ns.length,
        s"$reg: region shares sum $ppm")
      assert(ns.map(_.getAs[Long]("nation_c")).sum ==
        ns.head.getAs[Long]("region_c"), s"$reg: region total mismatch")
    }
    val regionShare = byRegion.values
      .map(_.head.getAs[Long]("share_of_total_ppm")).sum
    assert(regionShare <= 1000000L && regionShare > 1000000L - byRegion.size)
  }

  test("graph_eccentricity is consistent with the closeness BFS state") {
    val ecc = graft.queries.GraphQueries.graphEccentricity(spark, sf).collect()
    val close = graft.queries.GraphQueries.graphCloseness(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val diameter = ecc.head.getAs[Long]("diameter")
    val radius = ecc.head.getAs[Long]("radius")
    assert(radius <= diameter)
    assert(ecc.exists(_.getAs[Boolean]("is_center")))
    assert(ecc.exists(_.getAs[Boolean]("is_periphery")))
    ecc.foreach { r =>
      val (node, e) = (r.getLong(0), r.getAs[Long]("ecc"))
      assert(e >= radius && e <= diameter)
      val (nReached, totalDist) = close(node)
      assert(r.getAs[Long]("n_reached") == nReached,
        s"$node: reach disagrees with closeness")
      // the farthest node contributes ecc to the distance sum
      assert(totalDist >= e, s"$node: ecc above total distance")
      assert(totalDist <= (nReached - 1) * e, s"$node: sum above reach*ecc")
    }
  }

  test("analytics_mann_kendall equals a driver-side pair recompute") {
    val row = graft.queries.StatQueries.analyticsMannKendall(spark, sf)
      .collect()(0)
    val revByDay = graft.queries.RefQueries.table(spark, sf, "lineitem")
      .selectExpr(
        "CAST(unix_millis(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000 AS BIGINT) AS d",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c")
      .groupBy("d").agg(sum("c").as("rev"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = revByDay.length
    var s = 0L
    for (i <- 0 until n; j <- i + 1 until n)
      s += java.lang.Long.compare(revByDay(j)._2, revByDay(i)._2).sign
    val tieTerm = revByDay.groupBy(_._2).values
      .map(g => { val t = g.length.toLong; t * (t - 1) * (2 * t + 5) }).sum
    val varNum = n.toLong * (n - 1) * (2L * n + 5) - tieTerm
    assert(row.getAs[Long]("n_days") == n)
    assert(row.getAs[Long]("s_stat") == s, "S statistic")
    assert(row.getAs[Long]("var_num") == varNum, "variance numerator")
    val z = row.getAs[Double]("z")
    assert(z.sign == s.sign.toDouble || (s.abs <= 1 && z == 0.0) ||
      (s > 0 && z == 0.0 && s == 1), s"z $z inconsistent with S $s")
  }

  test("dedup_cross_source partitions the full near-dup pair list") {
    val matrix = graft.queries.SimilarityQueries.dedupCrossSource(spark, sf)
      .collect()
    val totalPairs = graft.queries.SimilarityQueries.dedupMinhash(spark, sf)
      .count()
    assert(matrix.map(_.getAs[Long]("n_pairs")).sum == totalPairs,
      "matrix cells must partition the pair list")
    matrix.foreach { r =>
      assert(r.getString(0) <= r.getString(1), "unordered pair key")
      assert(r.getAs[Long]("density_ppm") <= 1000000L)
      assert(r.getAs[Long]("n_pairs") > 0)
    }
  }

  test("analytics_cohort_ltv telescopes and matches the retention sizes") {
    val ltv = graft.queries.BehaviorQueries.analyticsCohortLtv(spark, sf)
      .collect()
    // cumulative revenue never decreases within a cohort (period >= 0)
    ltv.groupBy(_.getString(0)).foreach { case (cohort, rows) =>
      val ordered = rows.sortBy(_.getAs[Long]("day_offset"))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("cum_rev_c") <= b.getAs[Long]("cum_rev_c"),
            s"$cohort: cumulative revenue decreased")
        case _ => ()
      }
      assert(ordered.map(_.getAs[Long]("period_rev_c")).sum ==
        ordered.last.getAs[Long]("cum_rev_c"), s"$cohort: telescoping sum")
    }
    // the grand total equals the corpus's total purchase cents
    val total = graft.queries.RefQueries.table(spark, sf, "events")
      .where(col("event_type") === "purchase")
      .selectExpr("CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)")
      .collect()(0).getLong(0)
    assert(ltv.map(_.getAs[Long]("period_rev_c")).sum == total)
    // cohort sizes agree with the retention triangle at offset 0
    val retention = graft.queries.BehaviorQueries.analyticsCohort(spark, sf)
      .collect().filter(_.getAs[Long]("day_offset") == 0)
      .map(r => r.getString(0) -> r.getAs[Long]("n_users")).toMap
    ltv.filter(_.getAs[Long]("day_offset") == 0).foreach(r =>
      assert(r.getAs[Long]("n_cohort_users") == retention(r.getString(0))))
  }

  test("etl_partition_skew equals a driver-side key histogram") {
    val rows = graft.queries.ProfileQueries.etlPartitionSkew(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("l_orderkey", "l_partkey", "l_suppkey"))
    val li = graft.queries.RefQueries.table(spark, sf, "lineitem")
      .select("l_suppkey").collect().map(_.getLong(0))
    val hist = li.groupBy(identity).view.mapValues(_.length.toLong)
    val r = rows("l_suppkey")
    assert(r.getAs[Long]("n_keys") == hist.size)
    assert(r.getAs[Long]("n_rows") == li.length)
    assert(r.getAs[Long]("max_key_rows") == hist.values.max)
    // max/mean ratio is at least 1x by construction
    assert(r.getAs[Long]("skew_ratio_ppm") >= 1000000L)
    assert(rows.values.map(_.getAs[Long]("n_rows")).toSet.size == 1,
      "all candidates scan the same table")
  }

  test("sim_ann_ivfpq candidates come from the probed IVF cells only") {
    import graft.ops.Similarity
    val emb = graft.queries.RefQueries.table(spark, sf, "embeddings")
    val ivfpq = graft.queries.SimilarityQueries.simAnnIvfPq(spark, sf)
      .collect()
    assert(ivfpq.length == 50, "5 results x 10 queries")
    // the composed index may only ever see what the coarse quantizer
    // admits: IVF at unbounded k enumerates the full candidate set
    val admitted = Similarity
      .ivfTopKCosine(emb.where(col("vec_id") < 10), emb, k = 1000000)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    ivfpq.foreach { r =>
      assert(admitted.contains((r.getLong(0), r.getLong(1))),
        s"(${r.getLong(0)},${r.getLong(1)}) outside the probed cells")
    }
    // reranked scores are EXACT cosines: they can never exceed the
    // best exact cosine among admitted candidates, and per-query
    // ordering is descending
    ivfpq.groupBy(_.getLong(0)).values.foreach { rows =>
      val sims = rows.map(_.getDouble(3))
      assert(sims.sameElements(sims.sortBy(-_)), "per-query order")
    }
  }

  test("graph_coreness equals brute-force peeling") {
    val got = graft.queries.GraphQueries.graphCoreness(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side peeling over the same undirected simple graph
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    val und = graft.queries.GraphQueries.tradeEdgesForSpec(spark, sf)
    und.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
    }
    val core = scala.collection.mutable.Map.empty[Long, Long]
    val live = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    adj.foreach { case (k, v) => live(k) = v.clone() }
    var k = 0L
    while (live.nonEmpty) {
      val peel = live.filter(_._2.size <= k).keys.toSeq
      if (peel.isEmpty) k += 1
      else peel.foreach { v =>
        core(v) = k
        live.remove(v)
        live.values.foreach(_ -= v)
      }
    }
    assert(got == core.toMap, s"coreness mismatch: $got vs $core")
  }

  test("sim_ann_recall_ivfpq never beats the pure IVF recall per query") {
    val ivf = graft.queries.SimilarityQueries.simAnnRecallIvf(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ivfpq = graft.queries.SimilarityQueries.simAnnRecallIvfPq(spark, sf)
      .collect()
    assert(ivfpq.length == 10)
    ivfpq.foreach { r =>
      val (q, hits) = (r.getLong(0), r.getLong(2))
      // IVF ranks the full admitted set with exact cosine; IVFADC reranks
      // only the ADC head of the same set — it can match but not exceed
      assert(hits <= ivf(q), s"query $q: composed recall above pure IVF")
      assert(r.getLong(3) == hits * 1000000L / 5)
    }
  }

  test("corpus_gopher_rules flags are consistent with their counts") {
    val rows = graft.queries.TextQueries.corpusGopherRules(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nw = r.getAs[Long]("n_words")
      val cs = r.getAs[Long]("char_sum")
      assert(r.getAs[Long]("r1_wordcount") ==
        (if (nw >= 50 && nw <= 100000) 1L else 0L))
      assert(r.getAs[Long]("r2_wordlen") ==
        (if (cs >= 3 * nw && cs <= 10 * nw) 1L else 0L))
      assert(r.getAs[Long]("r3_symbols") ==
        (if (r.getAs[Long]("sym_count") * 10 <= nw) 1L else 0L))
      assert(r.getAs[Long]("r4_alpha") ==
        (if (r.getAs[Long]("alpha_words") * 5 >= nw * 4) 1L else 0L))
      assert(r.getAs[Long]("r5_stopwords") ==
        (if (r.getAs[Long]("stop_hits") >= 2) 1L else 0L))
      val flags = Seq("r1_wordcount", "r2_wordlen", "r3_symbols", "r4_alpha",
        "r5_stopwords").map(r.getAs[Long])
      assert(r.getAs[Long]("keep") == (if (flags.sum == 5) 1L else 0L))
    }
  }

  test("multimodal_audio_zcr equals a driver-side recompute on one doc") {
    val zcr = graft.queries.StreamQueries.multimodalAudioZcr(spark, sf)
      .collect()
    assert(zcr.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= 7),
      "8-sample frames have at most 7 crossings")
    val docId = zcr.head.getLong(0)
    val text = graft.queries.RefQueries.table(spark, sf, "documents")
      .where(col("doc_id") === docId).select("text").collect()(0).getString(0)
    val bytes = text.getBytes("UTF-8")
    val dataLen = math.min(90, (bytes.length / 2) * 2)
    // the WAV decode requantizes each 16-bit LE pair to high byte + 128
    val plane = (0 until dataLen / 2).map(i => (bytes(2 * i + 1) & 0xff) + 128)
    val want = plane.grouped(8).filter(_.length == 8)
      .map(f => f.sliding(2).count(p => (p(0) - 128) * (p(1) - 128) < 0).toLong)
      .toSeq
    val got = zcr.filter(_.getLong(0) == docId).sortBy(_.getLong(1))
      .map(_.getLong(2)).toSeq
    assert(got == want, s"doc $docId: $got != $want")
  }

  test("etl_date_shift preserves every within-user interval") {
    val rows = graft.queries.EtlQueries.etlDateShift(spark, sf).collect()
    rows.foreach { r =>
      val sd = r.getAs[Long]("shift_days")
      assert(sd >= 1 && sd <= 28, s"shift $sd out of range")
      assert(r.getAs[Long]("shifted_us") - r.getAs[Long]("orig_us") ==
        sd * 86400000000L)
    }
    // one offset per user — intervals inside a user survive exactly
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (u, es) =>
      assert(es.map(_.getAs[Long]("shift_days")).distinct.length == 1,
        s"user $u: inconsistent shift")
    }
    // and the shifts actually vary across users (otherwise no anonymity)
    assert(rows.map(_.getAs[Long]("shift_days")).distinct.length > 5)
  }

  test("analytics_growth_accounting satisfies both accounting identities") {
    val rows = graft.queries.BehaviorQueries
      .analyticsGrowthAccounting(spark, sf).collect()
      .map(r => r.getAs[Long]("day") -> r).toMap
    val days = rows.keys
    def get(d: Long, c: String): Long =
      rows.get(d).map(_.getAs[Long](c)).getOrElse(0L)
    (days.min to days.max).foreach { d =>
      assert(get(d, "n_active") ==
        get(d, "n_new") + get(d, "n_retained") + get(d, "n_resurrected"),
        s"day $d: active decomposition broken")
      if (d > days.min)
        assert(get(d, "n_active") - get(d - 1, "n_active") ==
          get(d, "n_new") + get(d, "n_resurrected") - get(d, "n_churned"),
          s"day $d: delta identity broken")
    }
    assert(rows.values.map(_.getAs[Long]("n_new")).sum ==
      graft.queries.RefQueries.table(spark, sf, "events")
        .select("user_id").distinct().count(),
      "every user is new exactly once")
  }

  test("analytics_hill equals a driver-side recompute over the top-k") {
    import graft.functions.IntegerLog2.log2Scaled
    val row = graft.queries.StatQueries.analyticsHill(spark, sf).collect()(0)
    val top = graft.queries.RefQueries.table(spark, sf, "orders")
      .selectExpr("CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x",
        "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (x, k) => (-x, k) }.take(101)
    val ref = top(100)._1
    val want = top.take(100).map(t => log2Scaled(t._1) - log2Scaled(ref)).sum
    assert(row.getAs[Long]("k") == 100)
    assert(row.getAs[Long]("ref_c") == ref)
    assert(row.getAs[Long]("sum_log2_1e6") == want)
    if (want > 0) assert(row.getAs[Double]("alpha_hat") > 0)
    else assert(row.isNullAt(row.fieldIndex("alpha_hat")),
      "flat tail must yield NULL alpha, not a division error")
  }

  test("analytics_elasticity equals a driver-side sufficient-stat recompute") {
    import graft.functions.IntegerLog2.log2Scaled
    val rows = graft.queries.StatQueries.analyticsElasticity(spark, sf)
      .collect()
    assert(rows.length == 3)
    val li = graft.queries.RefQueries.table(spark, sf, "lineitem")
      .selectExpr("l_returnflag AS g",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc",
        "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qc")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.foreach { row =>
      val g = row.getString(0)
      val xy = li.filter(_._1 == g)
        .map(t => (log2Scaled(t._2) / 1000, log2Scaled(t._3) / 1000))
      val n = xy.length.toDouble
      val sx = xy.map(_._1).sum.toDouble
      val sy = xy.map(_._2).sum.toDouble
      val sxy = xy.map(t => t._1 * t._2).sum.toDouble
      val sxx = xy.map(t => t._1 * t._1).sum.toDouble
      val want = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(row.getAs[Long]("n") == xy.length)
      assert(row.getAs[Double]("elasticity") == want, s"$g slope")
      val r2 = row.getAs[Double]("r2")
      assert(r2 >= 0 && r2 <= 1, s"$g r2 $r2")
    }
  }

  test("graph_rich_club equals a brute-force threshold sweep") {
    val got = graft.queries.GraphQueries.graphRichClub(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val und = graft.queries.GraphQueries.tradeEdgesForSpec(spark, sf)
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val deg = und.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    (0L until 24L).foreach { k =>
      val nk = deg.count(_._2 > k).toLong
      if (nk >= 2) {
        val ek = und.count(e => math.min(deg(e._1), deg(e._2)) > k).toLong
        val phi = ek * 2000000L / (nk * (nk - 1))
        assert(got(k) == ((nk, ek, phi)), s"k=$k: ${got.get(k)} != ($nk,$ek,$phi)")
      } else assert(!got.contains(k), s"k=$k should be filtered")
    }
  }

  test("multimodal_image_entropy is bounded and matches a recompute") {
    import graft.functions.IntegerLog2.log2Scaled
    val rows = graft.queries.StreamQueries.multimodalImageEntropy(spark, sf)
      .collect()
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= 4000000L),
      "entropy of a 16-bin histogram lies in [0, 4] bits")
    val docId = rows.head.getLong(0)
    val text = graft.queries.RefQueries.table(spark, sf, "documents")
      .where(col("doc_id") === docId).select("text").collect()(0).getString(0)
    val counts = text.getBytes("UTF-8").map(b => (b & 0xff) / 16)
      .groupBy(identity).values.map(_.length.toLong)
    val n = counts.sum
    val want = counts.map(c => c * (log2Scaled(n) - log2Scaled(c))).sum / n
    val got = rows.find(_.getLong(0) == docId).get
    assert(got.getLong(1) == n && got.getLong(2) == want, s"doc $docId")
  }

  test("analytics_markov_stationary equals a driver-side power iteration") {
    val got = graft.queries.BehaviorQueries
      .analyticsMarkovStationary(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val trans = graft.queries.BehaviorQueries.analyticsMarkov(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nFrom = trans.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val pppm = trans.map { case (f, t, n) => (f, t) -> n * 1000000L / nFrom(f) }
      .toMap
    val states = (trans.map(_._1) ++ trans.map(_._2)).distinct.sorted
    var pi = states.map(_ -> 1000000L / states.length).toMap
    (1 to 6).foreach { _ =>
      pi = states.map { j =>
        j -> states.map(i => pi(i) * pppm.getOrElse((i, j), 0L)).sum / 1000000L
      }.toMap
    }
    assert(got == pi, s"$got != $pi")
    // mass survives up to the documented integer truncation leak
    val total = got.values.sum
    assert(total <= 1000000L && total > 990000L, s"mass $total")
  }

  test("corpus_split is exhaustive, stable, and near the 90/5/5 target") {
    val rows = graft.queries.PipelineQueries.corpusSplit(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == graft.queries.RefQueries.table(spark, sf, "documents")
      .count(), "every document lands in exactly one split")
    val bySplit = rows.groupBy(_.getString(1)).view
      .mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    val trainShare = bySplit("train").toDouble / total
    assert(trainShare > 0.85 && trainShare < 0.95,
      s"train share $trainShare far from 90%")
    // membership is a pure function of doc_id: a rerun is identical
    val again = graft.queries.PipelineQueries.corpusSplit(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("corpus_split_leakage partitions the near-dup pairs by split pair") {
    val rows = graft.queries.PipelineQueries.corpusSplitLeakage(spark, sf)
      .collect()
    val totalPairs = graft.queries.SimilarityQueries.dedupMinhash(spark, sf)
      .count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == totalPairs)
    rows.foreach { r =>
      assert(r.getString(0) <= r.getString(1))
      assert(r.getAs[Long]("leaky") ==
        (if (r.getString(0) != r.getString(1)) 1L else 0L))
    }
  }

  test("analytics_var tail accounting is consistent") {
    val row = graft.queries.StatQueries.analyticsVar(spark, sf).collect()(0)
    val nDays = row.getAs[Long]("n_days")
    val nTail = row.getAs[Long]("n_tail")
    val var95 = row.getAs[Double]("var95_c")
    val cvar = row.getAs[Double]("cvar95_c")
    // the 5% tail holds about 5% of days (interpolation admits +-1)
    assert(nTail >= nDays / 20 - 1 && nTail <= nDays / 20 + 2,
      s"tail $nTail of $nDays days")
    // expected shortfall is at least as bad as the VaR boundary
    assert(cvar <= var95, s"CVaR $cvar must not exceed VaR $var95")
    assert(row.getAs[Long]("tail_sum_c") <= 0 || var95 > 0)
  }

  test("source_csv_malformed quarantines exactly the injected rows") {
    val row = graft.queries.SourceQueries.sourceCsvMalformed(spark, sf)
      .collect()(0)
    val sup = graft.queries.RefQueries.table(spark, sf, "supplier")
      .selectExpr("s_suppkey",
        "CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(row.getAs[Long]("n_rows") == sup.length,
      "corrupt rows must still flow through as rows")
    val bad = sup.count(_._1 % 50 == 0)
    assert(row.getAs[Long]("n_quarantined") == bad)
    assert(row.getAs[Long]("n_good") == sup.length - bad)
    assert(row.getAs[Long]("good_bal_c") ==
      sup.filter(_._1 % 50 != 0).map(_._2).sum)
    assert(row.getAs[Long]("good_key_sum") ==
      sup.filter(_._1 % 50 != 0).map(_._1).sum)
  }

  test("analytics_price_index bases at exactly one million ppm") {
    val rows = graft.queries.StatQueries.analyticsPriceIndex(spark, sf)
      .collect()
    val byMonth = rows.map(r =>
      r.getString(0) -> (r.getAs[Long]("n_parts"), r.getAs[Long]("index_ppm")))
    val (baseMonth, (_, baseIdx)) = byMonth.minBy(_._1)
    assert(baseIdx == 1000000L,
      s"$baseMonth: the base month's matched basket must index at 1e6")
    assert(rows.forall(_.getAs[Long]("index_ppm") > 0))
    // driver recompute for the second month
    val li = graft.queries.RefQueries.table(spark, sf, "lineitem")
      .selectExpr("date_format(l_shipdate, 'yyyy-MM') AS m", "l_partkey",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) div CAST(l_quantity AS BIGINT) AS u",
        "CAST(l_quantity AS BIGINT) AS q")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val pm = li.groupBy(t => (t._1, t._2)).map { case ((m, pk), ts) =>
      (m, pk, ts.map(_._3).min, ts.map(_._4).sum)
    }.toSeq
    val m0 = pm.map(_._1).min
    val base = pm.filter(_._1 == m0).map(t => t._2 -> (t._3, t._4)).toMap
    val m1 = byMonth.map(_._1).sorted.apply(1)
    val matched = pm.filter(t => t._1 == m1 && base.contains(t._2))
    val num = matched.map(t => t._3 * base(t._2)._2).sum
    val den = matched.map(t => base(t._2)._1 * base(t._2)._2).sum
    val want = math.floor(num.toDouble * 1000000.0 / den.toDouble).toLong
    val got = byMonth.toMap.apply(m1)
    assert(got == ((matched.size.toLong, want)), s"$m1: $got != ($want)")
  }

  test("analytics_volume_index bases at 1e6 and shares the price basket") {
    val vol = graft.queries.StatQueries.analyticsVolumeIndex(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_parts"), r.getAs[Long]("vol_index_ppm"))).toMap
    val price = graft.queries.StatQueries.analyticsPriceIndex(spark, sf)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_parts")).toMap
    assert(vol.keySet == price.keySet, "same month coverage")
    vol.foreach { case (m, (n, idx)) =>
      assert(n == price(m), s"$m: matched basket sizes differ")
      assert(idx > 0)
    }
    val baseMonth = vol.keys.min
    assert(vol(baseMonth)._2 == 1000000L, "base month indexes at 1e6")
  }

  test("graph_bowtie equals a driver-side reachability classification") {
    val got = graft.queries.GraphQueries.graphBowtie(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val edges = graft.queries.GraphQueries.tradeEdgesForSpec(spark, sf)
    val nodes = got.keySet
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val radj = edges.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    def reach(seed: Set[Long], a: Map[Long, Set[Long]]): Set[Long] = {
      var r = seed; var grew = true
      while (grew) {
        val next = r ++ r.flatMap(a.getOrElse(_, Set.empty))
        grew = next.size > r.size; r = next
      }
      r
    }
    // scc ids must match the gated SCC operator
    val scc = graft.queries.GraphQueries.graphScc(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (n, (id, _)) => assert(id == scc(n), s"$n scc id") }
    val coreId = scc.values.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (id, sz) => (-sz, id) }.head._1
    val coreSet = scc.filter(_._2 == coreId).keySet
    val fwd = reach(coreSet, adj)
    val bwd = reach(coreSet, radj)
    nodes.foreach { n =>
      val want =
        if (coreSet(n)) "core"
        else if (bwd(n)) "in"
        else if (fwd(n)) "out"
        else "other"
      assert(got(n)._2 == want, s"$n: ${got(n)._2} != $want")
    }
    assert(got.values.count(_._2 == "core") == coreSet.size)
  }

  test("analytics_fisher_index lies between Paasche and Laspeyres") {
    val rows = graft.queries.StatQueries.analyticsFisherIndex(spark, sf)
      .collect()
    val priceIdx = graft.queries.StatQueries.analyticsPriceIndex(spark, sf)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("index_ppm")).toMap
    rows.foreach { r =>
      val (m, l, p, f) = (r.getString(0), r.getAs[Long]("laspeyres_ppm"),
        r.getAs[Long]("paasche_ppm"), r.getAs[Long]("fisher_ppm"))
      assert(l == priceIdx(m), s"$m: Laspeyres disagrees with the price index")
      // the geometric mean sits between its arguments (floor shifts <= 1)
      assert(f >= math.min(l, p) - 1 && f <= math.max(l, p),
        s"$m: Fisher $f outside [$p, $l]")
      // floor(sqrt(l*p)) recomputed exactly
      assert(f == math.floor(math.sqrt((l * p).toDouble)).toLong, s"$m")
    }
    val base = rows.map(_.getString(0)).min
    val b = rows.find(_.getString(0) == base).get
    assert(b.getAs[Long]("laspeyres_ppm") == 1000000L &&
      b.getAs[Long]("paasche_ppm") == 1000000L &&
      b.getAs[Long]("fisher_ppm") == 1000000L)
  }

  test("sim_ivf_balance accounts for the whole corpus with a shared max") {
    val rows = graft.queries.SimilarityQueries.simIvfBalance(spark, sf)
      .collect()
    val n = graft.queries.RefQueries.table(spark, sf, "embeddings").count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == n,
      "every vector lands in exactly one cell")
    val imb = rows.map(_.getAs[Long]("imbalance_ppm")).distinct
    assert(imb.length == 1, "imbalance is a corpus-level constant")
    assert(imb.head >= 1000000L, "max cell is at least the ideal load")
    assert(rows.map(_.getAs[Long]("load_ppm_of_ideal")).max == imb.head)
  }

  test("analytics_wilson_ci brackets p_hat and narrows with n") {
    val rows = graft.queries.StatQueries.analyticsWilsonCi(spark, sf)
      .collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      val (p, lo, hi) = (r.getAs[Double]("p_hat"), r.getAs[Double]("ci_lo"),
        r.getAs[Double]("ci_hi"))
      assert(lo >= 0.0 && hi <= 1.0, "Wilson never leaves [0,1]")
      assert(lo <= p && p <= hi, s"interval [$lo,$hi] must bracket $p")
      assert(hi - lo > 0, "degenerate interval")
    }
  }

  test("analytics_odds_ratio cells partition the user-days exactly") {
    val r = graft.queries.StatQueries.analyticsOddsRatio(spark, sf)
      .collect()(0)
    val (a, b, c, d) = (r.getAs[Long]("a"), r.getAs[Long]("b"),
      r.getAs[Long]("c"), r.getAs[Long]("d"))
    val userDays = graft.queries.RefQueries.table(spark, sf, "events")
      .selectExpr("user_id", "(ts div 1000) div 86400000000 AS day")
      .distinct().count()
    assert(a + b + c + d == userDays, "cells must partition user-days")
    assert(r.getAs[Long]("odds_ratio_ppm") == a * d * 1000000L / (b * c))
    assert(r.getAs[Long]("relative_risk_ppm") ==
      a * (c + d) * 1000000L / (c * (a + b)))
  }

  test("sim_ann_nprobe_sweep recall is monotone in probe depth") {
    val rows = graft.queries.SimilarityQueries.simAnnNprobeSweep(spark, sf)
      .collect().sortBy(_.getAs[Long]("nprobe"))
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 2L, 4L, 8L))
    rows.foreach(r => assert(r.getAs[Long]("total_k") == 50))
    // probing more cells can only ADD candidates: recall is monotone
    rows.map(_.getAs[Long]("hits")).sliding(2).foreach {
      case Array(x, y) => assert(x <= y, "recall fell as probes grew")
      case _ => ()
    }
    // the nprobe=8 row must agree with the standalone IVF recall gate
    val ivfHits = graft.queries.SimilarityQueries.simAnnRecallIvf(spark, sf)
      .collect().map(_.getAs[Long]("hits")).sum
    assert(rows.last.getAs[Long]("hits") == ivfHits)
  }

  test("dedup_bloom_eval equals a driver-side filter simulation") {
    val row = graft.queries.TextQueries.dedupBloomEval(spark, sf).collect()(0)
    val keys = graft.ops.TextOps.analyze(
      graft.queries.RefQueries.table(spark, sf, "documents")
        .select("doc_id", "text"))
      .select("doc_id", "fingerprint").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val as = Seq(1315423911L, 2654435761L, 2246822519L, 3266489917L)
    val bs = Seq(97L, 193L, 389L, 769L)
    def bits(k: Long): Seq[(Int, Long)] =
      (0 until 4).map(i => i -> ((k * as(i) + bs(i)) % 2147483647L % 1024L))
    val prior = keys.filter(_._1 % 10 != 0)
    val batch = keys.filter(_._1 % 10 == 0)
    val filterBits = prior.flatMap(p => bits(p._2)).toSet
    val priorKeys = prior.map(_._2).toSet
    val hits = batch.count(b => bits(b._2).forall(filterBits))
    val dups = batch.count(b => priorKeys(b._2))
    val fps = batch.count(b =>
      bits(b._2).forall(filterBits) && !priorKeys(b._2))
    assert(row.getAs[Long]("n_batch") == batch.length)
    assert(row.getAs[Long]("n_exact_dup") == dups)
    assert(row.getAs[Long]("n_bloom_hits") == hits)
    assert(row.getAs[Long]("n_false_pos") == fps)
    // Bloom's contract: no false negatives, hits decompose exactly
    assert(hits >= dups && hits == dups + fps)
    assert(row.getAs[Long]("fpr_ppm") ==
      fps * 1000000L / math.max(batch.length - dups, 1))
  }

  test("analytics_anova agrees with a driver-side decomposition") {
    val row = graft.queries.StatQueries.analyticsAnova(spark, sf).collect()(0)
    val xs = graft.queries.RefQueries.table(spark, sf, "customer")
      .selectExpr("c_mktsegment AS g",
        "CAST(round(c_acctbal * 100, 0) AS BIGINT) div 100 AS x")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val groups = xs.groupBy(_._1).values.toSeq
    val k = groups.length
    val n = xs.length
    val sg2nMilli = groups.map { g =>
      val s = g.map(_._2).sum
      math.floor((s * s).toDouble / g.length * 1000.0).toLong
    }.sum
    val sTot = xs.map(_._2).sum
    val ssTot = xs.map(t => t._2 * t._2).sum
    val sumSg2n = sg2nMilli.toDouble / 1000.0
    val ssb = sumSg2n - sTot.toDouble * sTot.toDouble / n
    val ssw = ssTot.toDouble - sumSg2n
    val f = (ssb / (k - 1.0)) / (ssw / (n.toDouble - k))
    assert(row.getAs[Long]("k") == k && row.getAs[Long]("n_total") == n)
    assert(row.getAs[Double]("ssb") == ssb)
    assert(row.getAs[Double]("ssw") == ssw)
    assert(row.getAs[Double]("f_stat") == f)
    assert(ssb >= 0 && ssw > 0 && f >= 0, "variance components sane")
  }

  test("analytics_posthoc_pairs covers all pairs with sane t statistics") {
    val rows = graft.queries.StatQueries.analyticsPosthocPairs(spark, sf)
      .collect()
    assert(rows.length == 10, "C(5,2) segment pairs")
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "unordered pair key")
      val d = r.getAs[Double]("mean_diff")
      val t = r.getAs[Double]("t_stat")
      assert(d.sign == t.sign || d == 0.0, "t carries the diff's sign")
      assert(!t.isNaN && !t.isInfinite)
    }
    // antisymmetry closure: every segment appears in exactly 4 pairs
    val segs = rows.flatMap(r => Seq(r.getString(0), r.getString(1)))
    assert(segs.groupBy(identity).values.forall(_.length == 4))
  }

  test("analytics_decile_lift telescopes to one and is concentration-ordered") {
    val rows = graft.queries.BehaviorQueries.analyticsDecileLift(spark, sf)
      .collect().sortBy(_.getAs[Long]("decile"))
    assert(rows.length == 10)
    val total = rows.map(_.getAs[Long]("decile_rev_c")).sum
    assert(rows.last.getAs[Long]("cum_share_ppm") >= 1000000L - 10,
      "cumulative share must reach ~1e6 (floor loss < 10 ppm)")
    // decile 1 holds the top spenders: shares are non-increasing
    rows.map(_.getAs[Long]("decile_rev_c")).sliding(2).foreach {
      case Array(x, y) => assert(x >= y, "revenue must fall by decile")
      case _ => ()
    }
    // cumulative column telescopes the share column
    var cum = 0L
    rows.foreach { r =>
      cum += r.getAs[Long]("decile_rev_c")
      assert(r.getAs[Long]("cum_share_ppm") == cum * 1000000L / total)
    }
  }

  test("text_burstiness equals a driver-side dispersion recompute") {
    val row = graft.queries.TextQueries.textBurstiness(spark, sf).collect()(0)
    val toks = graft.queries.RefQueries.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)))
    val counts = toks.flatMap(_._2).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val top = counts.toSeq.sortBy { case (t, c) => (-c, t) }.head
    assert(row.getString(0) == top._1 &&
      row.getAs[Long]("total_occurrences") == top._2)
    val xs = toks.map(_._2.count(_ == top._1).toLong)
    val n = xs.length.toDouble
    val sx = xs.sum.toDouble
    val sxx = xs.map(x => x * x).sum.toDouble
    val want = (n * sxx - sx * sx) / (n * sx)
    assert(row.getAs[Double]("dispersion") == want)
    assert(row.getAs[Long]("n_docs_with") == xs.count(_ > 0))
  }

  test("stream_gap_detection equals a driver-side gap scan") {
    val got = graft.queries.StreamQueries.streamGapDetection(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val ev = graft.queries.RefQueries.table(spark, sf, "events")
      .selectExpr("event_type", "event_id", "ts div 1000 AS us")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    ev.groupBy(_._1).foreach { case (t, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._2))
      val gaps = ordered.sliding(2).collect {
        case Array(a, b) => (a._3, b._3 - a._3)
      }.toSeq
      val maxGap = gaps.map(_._2).max
      val want = (gaps.length.toLong, maxGap,
        gaps.count(_._2 > 1800000000L).toLong,
        gaps.filter(_._2 == maxGap).map(_._1).min)
      assert(got(t) == want, s"$t: ${got(t)} != $want")
    }
  }

  test("analytics_attribution conserves purchase credit across models") {
    val rows = graft.queries.BehaviorQueries.analyticsAttribution(spark, sf)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet == Set("click", "view"))
    val firstSum = rows.values.map(_._1).sum
    val lastSum = rows.values.map(_._2).sum
    val linearSum = rows.values.map(_._3).sum
    // every attributed purchase hands out exactly one first and one last
    assert(firstSum == lastSum, "first/last totals diverge")
    assert(firstSum > 0, "fixture attributed no purchases")
    // linear credit: k * (1000000 div k) per purchase loses < k ppm to
    // truncation, and k <= n_touches total
    val touches = rows.values.map(_._4).sum
    assert(linearSum <= 1000000L * firstSum)
    assert(linearSum >= 1000000L * firstSum - touches)
  }
}
