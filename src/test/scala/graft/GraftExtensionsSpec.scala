package graft

import org.apache.spark.sql.functions._

/** The config-installed registration path (`spark.sql.extensions=
  * graft.GraftExtensions`): asserted on a `newSession()` CLONE, which
  * re-applies injected extensions but does NOT inherit temp functions —
  * so success here cannot come from another suite's `registerAll`.
  */
class GraftExtensionsSpec extends SparkTestBase {

  test("injected SQL functions resolve on a fresh session clone") {
    val fresh = spark.newSession()
    val row = fresh.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c, " +
        "hamming64(1L, 3L) AS h, nfc_normalize('abc') AS s").head()
    assert(row.getDouble(0) == 1.0)
    assert(row.getInt(1) == 1)
    assert(row.getString(2) == "abc")
  }

  test("every table entry is injected (none lost between the paths)") {
    val fresh = spark.newSession()
    // iterate the SHARED table, not a copied name list — a ninth
    // function added to sqlFunctions is covered here automatically
    assert(functions.sqlFunctions.nonEmpty)
    functions.sqlFunctions.foreach { case (n, _, _) =>
      assert(
        fresh.sessionState.functionRegistry
          .functionExists(org.apache.spark.sql.catalyst
            .FunctionIdentifier(n)),
        s"function $n not injected")
    }
  }

  test("round-5 functions invoke through SQL on a fresh clone: " +
      "shingle3, md5_prefix28, shingle_simhash64, bloom agg + probe") {
    val fresh = spark.newSession()
    fresh.range(100).selectExpr("cast(id as string) AS s")
      .createOrReplaceTempView("bl")
    val row = fresh.sql(
      "SELECT shingle3(array('a','b','c','d')) AS sh, " +
        "md5_prefix28(array('x')) AS mp, " +
        "shingle_simhash64(array('x','y')) AS ss, " +
        "(SELECT count(*) FROM bl WHERE might_contain(" +
        "  (SELECT bloom_filter_agg(xxhash64(s), 100L, 800L) FROM bl), " +
        "  xxhash64(s))) AS hits").head()
    assert(row.getSeq[String](0) == Seq("a b c", "b c d"))
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("x".getBytes("UTF-8"))
    val expect = ((md(0) & 0xFFL) << 20) | ((md(1) & 0xFFL) << 12) |
      ((md(2) & 0xFFL) << 4) | ((md(3) & 0xF0L) >>> 4)
    assert(row.getSeq[Long](1) == Seq(expect))
    assert(row.getLong(2) != 0L)
    // a bloom has NO false negatives: every inserted key must probe true
    assert(row.getLong(3) == 100L)
  }

  test("wrong-arity bloom calls fail as analysis errors naming the " +
      "expected count, not IndexOutOfBounds from the builder") {
    val fresh = spark.newSession()
    for (bad <- Seq("SELECT bloom_filter_agg(1L)",
        "SELECT might_contain(cast(null as binary))")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        fresh.sql(bad).collect()
      }
      assert(e.getMessage.toLowerCase.contains("arg"),
        s"expected an arity message for `$bad`, got: ${e.getMessage}")
    }
  }

  test("SQL-only serving: graft_bm25 / graft_ann / graft_ann_adc on a " +
      "fresh clone match the Scala index searches bit-for-bit") {
    import spark.implicits._
    // the same once-per-JVM indexes the driver-gated serving rows read
    val textIdx = ops.ServingIndexes.text(spark, sfVerify)
    val annIdx = ops.ServingIndexes.ann(spark, sfVerify)
    val qv = Tables.load(spark, sfVerify, "embeddings")
      .filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head()
      .getSeq[Double](0).toSeq
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    // the clone carries ONLY the injected extensions — no temp
    // functions, no Scala-side registration: the SQL-only client
    val fresh = spark.newSession()

    // s32's search as SQL (query text splits to the BmTerms)
    val sqlBm = fresh.sql(
      s"SELECT * FROM graft_bm25('$textIdx', 'spark window query', 10)")
    val scalaBm = ops.TextIndex.search(spark, textIdx,
      Seq("spark", "window", "query"), 10)
    assert(sqlBm.columns.toSeq == scalaBm.columns.toSeq)
    assert(rows(sqlBm).nonEmpty && rows(sqlBm) == rows(scalaBm))

    // s33's refined search as SQL, query vector as a CSV string
    val sqlAnn = fresh.sql(
      s"SELECT * FROM graft_ann('$annIdx', '${qv.mkString(",")}', 5)")
    val scalaAnn = ops.AnnIndex.searchRefined(spark, annIdx,
        Seq((-1L, qv)).toDF("q_id", "qv"), 5)
      .select($"n_id", $"d2", $"rnk")
    assert(rows(sqlAnn).size == 5 && rows(sqlAnn) == rows(scalaAnn))

    // the ADC-final form, query vector as an array<double> literal
    val arrLit = qv.map(d => s"${d}d").mkString("array(", ", ", ")")
    val sqlAdc = fresh.sql(
      s"SELECT * FROM graft_ann_adc('$annIdx', $arrLit, 5)")
    val scalaAdc = ops.AnnIndex.search(spark, annIdx,
        Seq((-1L, qv)).toDF("q_id", "qv"), 5)
      .select($"n_id", $"adc", $"rnk")
    assert(rows(sqlAdc).size == 5 && rows(sqlAdc) == rows(scalaAdc))

    // the hybrid TVF fuses both indexes — knobs explicit in the text
    val sqlHyb = fresh.sql(
      s"SELECT * FROM graft_hybrid('$textIdx', '$annIdx', " +
        s"'spark window query', '${qv.mkString(",")}', 50, 10)")
    val scalaHyb = ops.HybridIndex.searchRefined(spark, textIdx, annIdx,
      Seq("spark", "window", "query"), qv, 50, 10)
    assert(rows(sqlHyb).size == 10 && rows(sqlHyb) == rows(scalaHyb))

    // the positional-phrase TVF must agree with the Scala twin
    val sqlPh = fresh.sql(
      s"SELECT * FROM graft_phrase('$textIdx', 'spark window', 10)")
    val scalaPh = ops.TextIndex.searchPhrase(spark, textIdx,
      Seq("spark", "window"), 10)
    assert(sqlPh.columns.toSeq == scalaPh.columns.toSeq)
    assert(rows(sqlPh).nonEmpty && rows(sqlPh) == rows(scalaPh))

    // the admission TVF: single-document dedup check against the
    // written index — must agree with the Scala probe verbatim
    val dedupIdx = ops.ServingIndexes.dedup(spark, sfVerify)
    val probeText = Tables.load(spark, sfVerify, "documents")
      .filter($"doc_id" === 0).select($"text").head().getString(0)
    val sqlChk = fresh.sql(
      s"SELECT * FROM graft_dedup_check('$dedupIdx', " +
        s"'${probeText.replace("'", "''")}')")
    val scalaChk = ops.DedupIndex.probe(spark, dedupIdx,
        Seq((-1L, probeText)).toDF("doc_id", "text"))
      .select($"fp_in_corpus", $"near_rej_corpus")
    assert(sqlChk.columns.toSeq == scalaChk.columns.toSeq)
    assert(rows(sqlChk) == rows(scalaChk) && rows(sqlChk).size == 1)
    // doc 0 is a corpus member: both rules must reject a verbatim copy
    assert(sqlChk.head().getBoolean(0) && sqlChk.head().getBoolean(1))

    // a non-literal argument must fail analysis with a clear message,
    // not a ClassCastException from the builder
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      fresh.sql("SELECT * FROM graft_bm25(rand()::string, 'x', 1)")
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("literal"),
      s"expected a literal-argument message: ${err.getMessage}")
  }

  test("TVF vector decode: SQL's NATURAL array spelling (plain decimal " +
      "literals) works and matches the double spelling; NULL elements, " +
      "empty vectors, non-numeric arrays and non-positive counts raise " +
      "parameter errors, never internal exceptions") {
    import spark.implicits._
    val annIdx = ops.ServingIndexes.ann(spark, sfVerify)
    val textIdx = ops.ServingIndexes.text(spark, sfVerify)
    val qv = Tables.load(spark, sfVerify, "embeddings")
      .filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head()
      .getSeq[Double](0).toSeq
    val fresh = spark.newSession()
    // components at 6 dp so the decimal and double spellings denote the
    // same exact value (both decode to the nearest double of the same
    // decimal numeral — Decimal.toDouble == Double.parse here)
    val vals = qv.map(d =>
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString)
    val decArr = vals.mkString("array(", ", ", ")")      // array<decimal>
    val dblArr = vals.map(_ + "d").mkString("array(", ", ", ")")
    def rows(q: String): Seq[String] =
      fresh.sql(q).collect().map(_.toString).sorted.toSeq
    val dec = rows(s"SELECT * FROM graft_ann_adc('$annIdx', $decArr, 5)")
    val dbl = rows(s"SELECT * FROM graft_ann_adc('$annIdx', $dblArr, 5)")
    assert(dec.size == 5 && dec == dbl,
      "decimal-literal array must decode to the same query vector")

    // every defect is an ANALYSIS-time parameter error naming the
    // function — no ClassCastException from toDoubleArray, no deferred
    // limit(-5) failure at execution
    def expectParamError(q: String, needle: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        fresh.sql(q).collect()
      }
      assert(e.getMessage.toLowerCase.contains(needle.toLowerCase),
        s"expected '$needle' for `$q`, got: ${e.getMessage}")
    }
    expectParamError(
      s"SELECT * FROM graft_ann_adc('$annIdx', array(0.25, NULL), 5)",
      "NULL element")
    expectParamError(
      s"SELECT * FROM graft_ann_adc('$annIdx', '', 5)",
      "at least one component")
    expectParamError(
      s"SELECT * FROM graft_ann_adc('$annIdx', array('a', 'b'), 5)",
      "numeric elements")
    expectParamError(
      s"SELECT * FROM graft_bm25('$textIdx', 'spark', 0)",
      "positive count")
    expectParamError(
      s"SELECT * FROM graft_ann_adc('$annIdx', $dblArr, -3)",
      "positive count")
  }

  test("deferred serving TVFs: EXPLAIN and schema probes run ZERO " +
      "Spark jobs; the declared schemas match the Scala twins'; " +
      "execution reads the index as of run time (no pinned snapshot)") {
    import spark.implicits._
    val textIdx = ops.ServingIndexes.text(spark, sfVerify)
    val annIdx = ops.ServingIndexes.ann(spark, sfVerify)
    val qv = Tables.load(spark, sfVerify, "embeddings")
      .filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head()
      .getSeq[Double](0).toSeq
    val csv = qv.mkString(",")
    val fresh = spark.newSession()

    // declared-schema pin: deferral means analysis can't read the
    // schema off the real plan, so the declared one must track the
    // Scala twins' exactly (names + types; the runtime re-check in
    // ServingScanExec guards production drift)
    def st(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => (f.name, f.dataType)).toSeq
    assert(st(ops.TextIndex.search(spark, textIdx, Seq("spark"), 1)) ==
      ops.SqlServing.bm25Schema.map(f => (f.name, f.dataType)).toSeq)
    assert(st(ops.AnnIndex.searchRefined(spark, annIdx,
        Seq((-1L, qv)).toDF("q_id", "qv"), 1)
        .select("n_id", "d2", "rnk")) ==
      ops.SqlServing.annSchema.map(f => (f.name, f.dataType)).toSeq)
    assert(st(ops.AnnIndex.search(spark, annIdx,
        Seq((-1L, qv)).toDF("q_id", "qv"), 1)
        .select("n_id", "adc", "rnk")) ==
      ops.SqlServing.annAdcSchema.map(f => (f.name, f.dataType)).toSeq)
    assert(st(ops.HybridIndex.searchRefined(spark, textIdx, annIdx,
        Seq("spark"), qv, 5, 5)) ==
      ops.SqlServing.hybridSchema.map(f => (f.name, f.dataType)).toSeq)

    // count every job started while analyzing/EXPLAINing (the index
    // builds above are drained first)
    val (_, jobs) = countingJobs {
      // EXPLAIN all four TVFs + a repeated re-analysis (the view
      // shape) + a schema probe (the BI-tool shape)
      fresh.sql(s"EXPLAIN EXTENDED SELECT * FROM " +
        s"graft_bm25('$textIdx', 'spark window query', 10)").collect()
      fresh.sql(s"EXPLAIN SELECT * FROM graft_ann('$annIdx', '$csv', 5)")
        .collect()
      fresh.sql(s"EXPLAIN SELECT * FROM " +
        s"graft_ann_adc('$annIdx', '$csv', 5)").collect()
      fresh.sql(s"EXPLAIN SELECT * FROM graft_hybrid('$textIdx', " +
        s"'$annIdx', 'spark window query', '$csv', 50, 10)").collect()
      fresh.sql(s"EXPLAIN SELECT * FROM " +
        s"graft_phrase('$textIdx', 'spark window', 10)").collect()
      fresh.sql(s"EXPLAIN SELECT * FROM " +
        s"graft_skew('$sfSmoke', 'events', 'event_type', 8)").collect()
      fresh.sql(s"EXPLAIN SELECT * FROM " +
        s"graft_topk('$sfSmoke', 'events', 'event_type', 'value', 3)")
        .collect()
      fresh.sql(s"CREATE OR REPLACE TEMPORARY VIEW tvf_v AS " +
        s"SELECT * FROM graft_ann('$annIdx', '$csv', 5)")
      (1 to 3).foreach(_ => fresh.sql("EXPLAIN SELECT * FROM tvf_v")
        .collect())
      val probed = fresh.sql(
        s"SELECT * FROM graft_ann('$annIdx', '$csv', 5)").schema
      assert(probed.map(f => (f.name, f.dataType)) ==
        ops.SqlServing.annSchema.map(f => (f.name, f.dataType)))
    }
    assert(jobs == 0,
      s"EXPLAIN/analysis of the serving TVFs must run zero Spark " +
        s"jobs, ran $jobs")

    // execution still produces the Scala twin's rows (the deferred
    // build calls the same entry point at run time)
    val sqlAnn = fresh.sql(
      s"SELECT * FROM graft_ann('$annIdx', '$csv', 5)")
      .collect().map(_.toString).sorted.toSeq
    val scalaAnn = ops.AnnIndex.searchRefined(spark, annIdx,
        Seq((-1L, qv)).toDF("q_id", "qv"), 5)
      .select($"n_id", $"d2", $"rnk")
      .collect().map(_.toString).sorted.toSeq
    assert(sqlAnn.size == 5 && sqlAnn == scalaAnn)
  }

  test("deferred serving TVFs compose: joined to a table and " +
      "aggregated, including as the broadcast side — the nested " +
      "execution inside doExecute survives AQE") {
    import spark.implicits._
    val annIdx = ops.ServingIndexes.ann(spark, sfVerify)
    val qv = Tables.load(spark, sfVerify, "embeddings")
      .filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head()
      .getSeq[Double](0).toSeq
    val fresh = spark.newSession()
    Tables.load(fresh, sfVerify, "embeddings")
      .createOrReplaceTempView("emb")
    // the TVF result is tiny → AQE should broadcast it into the join;
    // its doExecute (and the search's bounded driver-side resolves)
    // then runs under whatever thread materializes that stage
    val row = fresh.sql(
      s"SELECT count(*) AS n, count(e.vec_id) AS matched " +
        s"FROM graft_ann('$annIdx', '${qv.mkString(",")}', 5) a " +
        s"JOIN emb e ON e.vec_id = a.n_id").head()
    assert(row.getLong(0) == 5 && row.getLong(1) == 5,
      s"every neighbor id must resolve against the corpus: $row")
    // and in a scalar-subquery position (another execution shape)
    val top = fresh.sql(
      s"SELECT (SELECT min(n_id) FROM " +
        s"graft_ann('$annIdx', '${qv.mkString(",")}', 5)) AS lo").head()
    assert(!top.isNullAt(0))
  }

  test("TopKPerKey plans on a fresh clone without install()") {
    val fresh = spark.newSession()
    import fresh.implicits._
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9), ("b", 7))
      .toDF("k", "v")
    val top = plans.TopKPerKey(df, Seq("k"), struct(col("v")), 2)
    val got = top.groupBy($"k").agg(sum($"v").as("s"))
      .orderBy($"k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a", 3L), ("b", 16L)))
  }

  // ---- flooded-window guard (round 15: the r14 sweep as a rule) ----

  private def wgView(fresh: org.apache.spark.sql.SparkSession): Unit = {
    import fresh.implicits._
    (0 until 500).map(i =>
        (i.toLong, s"lang${i % 4}", (i * 37 % 101).toDouble))
      .toDF("doc_id", "lang", "score")
      .createOrReplaceTempView("wg_docs")
  }
  private val NtileSql = "SELECT doc_id, lang, ntile(3) OVER " +
    "(PARTITION BY lang ORDER BY score, doc_id) AS t FROM %s"
  private val RowNumSql = "SELECT doc_id, row_number() OVER " +
    "(ORDER BY score DESC, doc_id) AS rn FROM %s"
  private val GroupedRnSql = "SELECT doc_id, row_number() OVER " +
    "(PARTITION BY lang ORDER BY score, doc_id) AS rn FROM %s"

  /** AQE wraps the real plan; its inner final plan is not a `children`
    * member, so collect-based pins must unwrap it first. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  test("window guard REWRITE mode: corpus-share ntile and row_number " +
      "through pure SQL run as GlobalRank closed forms — no WindowExec " +
      "in the executed plan — and match the window answer exactly " +
      "(partition-less via the size estimate; partitioned-by-low-card " +
      "via ANALYZE column stats under CBO)") {
    val fresh = spark.newSession()
    wgView(fresh)
    // the stats-priced table twin: 500 rows, ndv(lang)=4 → 125 rows
    // per group, over the test's maxGroupRows=100 → corpus share
    fresh.sql("DROP TABLE IF EXISTS wg15_docs")
    fresh.table("wg_docs").write.mode("overwrite")
      .saveAsTable("wg15_docs")
    fresh.sql("ANALYZE TABLE wg15_docs COMPUTE STATISTICS")
    fresh.sql("ANALYZE TABLE wg15_docs COMPUTE STATISTICS " +
      "FOR COLUMNS lang")
    try {
      Seq((RowNumSql, "wg_docs", "rn"), (NtileSql, "wg15_docs", "t"),
        (GroupedRnSql, "wg15_docs", "rn"),
        // r15: partition-less ntile rewrites too (the global group
        // degenerate of the closed form)
        ("SELECT doc_id, ntile(3) OVER (ORDER BY score, doc_id) AS t " +
          "FROM %s", "wg_docs", "t"))
        .foreach { case (tpl, table, vcol) =>
          val sql = tpl.format(table)
          fresh.conf.set(plans.WindowGuard.ModeConf, "off")
          val want = fresh.sql(sql).select(col("doc_id"), col(vcol))
            .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
          fresh.conf.set(plans.WindowGuard.ModeConf, "rewrite")
          fresh.conf.set(plans.WindowGuard.BudgetConf, "0")
          fresh.conf.set(plans.WindowGuard.MaxGroupRowsConf, "100")
          fresh.conf.set("spark.sql.cbo.enabled", "true")
          try {
            val got = fresh.sql(sql)
            val vals = got.select(col("doc_id"), col(vcol))
              .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
            assert(vals == want, s"rewrite diverged from the window " +
              s"answer for [$sql]; first diffs: ${vals.toSeq.sortBy(_._1)
                .filter(p => want(p._1) != p._2).take(3).mkString(",")}")
            val exec = finalPlan(got)
            assert(exec.collect {
              case w: org.apache.spark.sql.execution.window.WindowExec => w
            }.isEmpty, s"rewrite must remove the WindowExec:\n$exec")
            assert(exec.collect {
              case w: plans.WindowRewriteExec => w
            }.nonEmpty, s"the WindowRewrite node must plan:\n$exec")
          } finally {
            fresh.conf.unset(plans.WindowGuard.ModeConf)
            fresh.conf.unset(plans.WindowGuard.BudgetConf)
            fresh.conf.unset(plans.WindowGuard.MaxGroupRowsConf)
            fresh.conf.unset("spark.sql.cbo.enabled")
          }
        }
    } finally {
      fresh.sql("DROP TABLE IF EXISTS wg15_docs")
    }
  }

  test("window guard REWRITE mode: the tie-aware rank family (rank/" +
      "dense_rank/percent_rank/cume_dist — ties present, no " +
      "tiebreaker, desc order covered) rewrites to the GlobalRank " +
      "closed forms and matches the window answer exactly, " +
      "partition-less and partitioned") {
    val fresh = spark.newSession()
    wgView(fresh)
    fresh.sql("DROP TABLE IF EXISTS wg15r_docs")
    fresh.table("wg_docs").write.mode("overwrite")
      .saveAsTable("wg15r_docs")
    fresh.sql("ANALYZE TABLE wg15r_docs COMPUTE STATISTICS")
    fresh.sql("ANALYZE TABLE wg15r_docs COMPUTE STATISTICS " +
      "FOR COLUMNS lang")
    // score has ~5-deep ties (500 rows over 101 values) and NO
    // tiebreaker: the tie-aware family must still be exact — its
    // value is a pure function of the order VALUE
    val battery = "rank() OVER w AS r, dense_rank() OVER w AS dr, " +
      "percent_rank() OVER w AS pr, cume_dist() OVER w AS cd"
    val shapes = Seq(
      s"SELECT doc_id, $battery FROM wg_docs " +
        "WINDOW w AS (ORDER BY score DESC)",
      s"SELECT doc_id, $battery FROM wg15r_docs " +
        "WINDOW w AS (PARTITION BY lang ORDER BY score)",
      // an EXPRESSION order key: the analyzer extracts it into a child
      // projection (_w0), so peer identity is addressable and the
      // rewrite must hold for it too
      s"SELECT doc_id, $battery FROM wg_docs " +
        "WINDOW w AS (ORDER BY score * 2)")
    try {
      shapes.foreach { sql =>
        fresh.conf.set(plans.WindowGuard.ModeConf, "off")
        val want = fresh.sql(sql).collect().map(_.toString).sorted.toSeq
        fresh.conf.set(plans.WindowGuard.ModeConf, "rewrite")
        fresh.conf.set(plans.WindowGuard.BudgetConf, "0")
        fresh.conf.set(plans.WindowGuard.MaxGroupRowsConf, "100")
        fresh.conf.set("spark.sql.cbo.enabled", "true")
        try {
          val got = fresh.sql(sql)
          val vals = got.collect().map(_.toString).sorted.toSeq
          assert(vals == want, s"rank-family rewrite diverged for " +
            s"[$sql]; first diffs: ${vals.zip(want)
              .filter(p => p._1 != p._2).take(3).mkString(",")}")
          val exec = finalPlan(got)
          assert(exec.collect {
            case w: org.apache.spark.sql.execution.window.WindowExec => w
          }.isEmpty, s"rewrite must remove the WindowExec:\n$exec")
          assert(exec.collect {
            case w: plans.WindowRewriteExec => w
          }.nonEmpty, s"the WindowRewrite node must plan:\n$exec")
        } finally {
          fresh.conf.unset(plans.WindowGuard.ModeConf)
          fresh.conf.unset(plans.WindowGuard.BudgetConf)
          fresh.conf.unset(plans.WindowGuard.MaxGroupRowsConf)
          fresh.conf.unset("spark.sql.cbo.enabled")
        }
      }
    } finally {
      fresh.sql("DROP TABLE IF EXISTS wg15r_docs")
    }
  }

  test("window guard REWRITE mode: lag/lead and running sum/count " +
      "(ROWS and RANGE-default frames) rewrite to the GlobalRank " +
      "closed forms and match the window answers exactly — offsets " +
      "across partition edges yield the default, the RANGE sum " +
      "includes all peers") {
    val fresh = spark.newSession()
    wgView(fresh)
    val shapes = Seq(
      // offset class over a total order (lag across the frame edge
      // hits the -1 default; lead's default is null)
      "SELECT doc_id, lag(doc_id, 2, -1) OVER " +
        "(ORDER BY score, doc_id) AS lg, lead(doc_id, 1) OVER " +
        "(ORDER BY score, doc_id) AS ld FROM wg_docs",
      // ROWS running sum + count over a total order
      "SELECT doc_id, sum(doc_id) OVER (ORDER BY score, doc_id ROWS " +
        "BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs, " +
        "count(*) OVER (ORDER BY score, doc_id ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS rc FROM wg_docs",
      // RANGE (SQL default) over the ties-heavy score: peer-inclusive
      "SELECT doc_id, sum(doc_id) OVER (ORDER BY score) AS rs, " +
        "count(*) OVER (ORDER BY score) AS rc FROM wg_docs",
      // partition-edge values: first_value's DEFAULT frame starts at
      // UNBOUNDED PRECEDING (rewritable); last/nth over the full
      // frame; last over ROWS..CURRENT ROW is the identity
      "SELECT doc_id, first_value(doc_id) OVER " +
        "(ORDER BY score, doc_id) AS fv FROM wg_docs",
      "SELECT doc_id, last_value(doc_id) OVER (ORDER BY score, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "AS lv, nth_value(doc_id, 3) OVER (ORDER BY score, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "AS nv FROM wg_docs",
      "SELECT doc_id, last_value(doc_id) OVER (ORDER BY score, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv " +
        "FROM wg_docs",
      // running min/max: RANGE default over ties + explicit ROWS;
      // selection is exact for doubles too (no float caveat)
      "SELECT doc_id, min(score) OVER (ORDER BY score, doc_id) AS mn, " +
        "max(doc_id) OVER (ORDER BY score, doc_id ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS mx FROM wg_docs",
      // full-partition frame: no ORDER BY at all — the one rewritable
      // order-less class
      "SELECT doc_id, sum(doc_id) OVER () AS ts, count(*) OVER () " +
        "AS tc, min(score) OVER () AS tm FROM wg_docs")
    shapes.foreach { sql =>
      fresh.conf.set(plans.WindowGuard.ModeConf, "off")
      val want = fresh.sql(sql).collect().map(_.toString).sorted.toSeq
      fresh.conf.set(plans.WindowGuard.ModeConf, "rewrite")
      fresh.conf.set(plans.WindowGuard.BudgetConf, "0")
      try {
        val got = fresh.sql(sql)
        val vals = got.collect().map(_.toString).sorted.toSeq
        assert(vals == want, s"offset/running rewrite diverged for " +
          s"[$sql]; first diffs: ${vals.zip(want)
            .filter(p => p._1 != p._2).take(3).mkString(",")}")
        val exec = finalPlan(got)
        assert(exec.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              // the pid-partitioned running scan inside the closed
              // form is task-bounded BY CONSTRUCTION — the one
              // admitted window class
              if !w.partitionSpec.exists(_.toString.contains("__gr_pid"))
            => w
        }.isEmpty, s"rewrite must remove the corpus-share " +
          s"WindowExec:\n$exec")
        assert(exec.collect {
          case w: plans.WindowRewriteExec => w
        }.nonEmpty, s"the WindowRewrite node must plan:\n$exec")
      } finally {
        fresh.conf.unset(plans.WindowGuard.ModeConf)
        fresh.conf.unset(plans.WindowGuard.BudgetConf)
      }
    }
  }

  test("graft_topk ranks NaN ords like the window form it replaces " +
      "(SQL sorts NaN greatest) instead of evicting them from the " +
      "heap; a reserved-namespace output alias falls back to warn " +
      "under rewrite, never crashes (review r15)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-topk-nan")
    Seq(("a", 1.0), ("a", 2.0), ("a", Double.NaN), ("a", 3.0),
        ("b", Double.NaN))
      .toDF("k", "v").write.mode("overwrite")
      .parquet(dir.resolve("t.parquet").toString)
    val fresh = spark.newSession()
    val got = fresh.sql(s"SELECT * FROM graft_topk('$dir', 't', " +
        "'k', 'v', 2) ORDER BY key, rnk")
      .collect().map(r => (r.getString(0),
        // NaN != NaN in Scala equality — compare via string form
        r.getDouble(1).toString, r.getInt(2))).toSeq
    assert(got == Seq(("a", "NaN", 1), ("a", "3.0", 2),
      ("b", "NaN", 1)),
      s"NaN must rank FIRST under the desc window semantics: $got")

    // __gr-prefixed OUTPUT alias: the rewrite's working namespace —
    // must fall back to warn (WindowExec kept), never corrupt or throw
    wgView(fresh)
    fresh.conf.set(plans.WindowGuard.ModeConf, "rewrite")
    fresh.conf.set(plans.WindowGuard.BudgetConf, "0")
    try {
      val aliased = fresh.sql("SELECT doc_id, row_number() OVER " +
        "(ORDER BY score, doc_id) AS __gr_pid FROM wg_docs")
      assert(aliased.count() == 500L)
      assert(finalPlan(aliased).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.nonEmpty, "reserved alias must keep its window (warn), " +
        "never enter the rewrite")
    } finally {
      fresh.conf.unset(plans.WindowGuard.ModeConf)
      fresh.conf.unset(plans.WindowGuard.BudgetConf)
    }
  }

  test("window guard FAIL mode blocks the corpus-share window; WARN " +
      "logs and leaves the plan; sub-budget frames never trip; " +
      "non-rewritable shapes fall back to warn under rewrite") {
    val fresh = spark.newSession()
    wgView(fresh)
    fresh.conf.set(plans.WindowGuard.ModeConf, "fail")
    fresh.conf.set(plans.WindowGuard.BudgetConf, "0")
    try {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        fresh.sql(RowNumSql.format("wg_docs")).collect()
      }
      assert(e.getMessage.contains("corpus-share window blocked"),
        s"wrong failure: $e")
      // default budget (1 GiB): the same 500-row frame is sub-budget,
      // so even fail mode lets it through — the guard prices hazard,
      // not style
      fresh.conf.unset(plans.WindowGuard.BudgetConf)
      assert(fresh.sql(RowNumSql.format("wg_docs")).count() == 500L)
      // warn at budget 0: plan unchanged (WindowExec still there),
      // answer produced
      fresh.conf.set(plans.WindowGuard.ModeConf, "warn")
      fresh.conf.set(plans.WindowGuard.BudgetConf, "0")
      val warned = fresh.sql(RowNumSql.format("wg_docs"))
      assert(warned.count() == 500L)
      assert(finalPlan(warned).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.nonEmpty, "warn mode must not change the plan")
      // shapes OUTSIDE the proven classes — a FLOAT running sum
      // (reassociation is not bit-stable, so it must NOT rewrite) and
      // last_value over its position-dependent DEFAULT frame (RANGE
      // ..CURRENT ROW — the classic gotcha; only the partition-edge
      // frames have closed forms) — must fall back to warn (plan
      // unchanged) under rewrite, never rewrite
      fresh.conf.set(plans.WindowGuard.ModeConf, "rewrite")
      for (sql <- Seq(
          "SELECT doc_id, sum(score) OVER (ORDER BY score, doc_id) " +
            "AS s FROM wg_docs",
          "SELECT doc_id, last_value(score) OVER " +
            "(ORDER BY score, doc_id) AS p FROM wg_docs")) {
        val kept = fresh.sql(sql)
        assert(kept.count() == 500L)
        assert(finalPlan(kept).collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }.nonEmpty, s"non-rewritable shape must keep its window: $sql")
      }
    } finally {
      fresh.conf.unset(plans.WindowGuard.ModeConf)
      fresh.conf.unset(plans.WindowGuard.BudgetConf)
    }
  }
}
