package graft

import org.apache.spark.sql.functions._

import graft.operators.Quality

class QualitySpec extends SparkSpec {
  import spark.implicits._

  test("ruleFlags: each gate judged independently on hand-built docs") {
    val docs = Seq(
      (0L, "s0", "the quick brown fox jumps over the lazy dog again today"), // passes all (10 toks, stops)
      (1L, "s0", "one two"),                               // fails length (2 < 3 minTok)
      (2L, "s0", "a aa aa aa"),                            // mean len (1+2+2+2)/4 < 3 → fails wordlen
      (3L, "s1", "the !!! ??? ;;; ###"),                   // symbol-heavy → fails symbol
      (4L, "s1", "uno dos tres cuatro cinco"))             // no English stopword → fails stop
      .toDF("doc_id", "source", "text")
    val flags = Quality.ruleFlags(docs, "text",
        minTok = 3L, maxTok = 100L, loLen = 3L, hiLen = 8L,
        symPermille = 100L, minStop = 1L)
      .select("doc_id", "pass_len", "pass_wordlen", "pass_symbol", "pass_stop", "pass")
      .orderBy("doc_id")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)].collect().toSeq
    assert(flags(0) === ((0L, true, true, true, true, true)))
    assert(!flags(1)._2 && !flags(1)._6)           // length gate
    assert(!flags(2)._3)                           // wordlen gate
    assert(!flags(3)._4)                           // symbol gate
    assert(flags(3)._5)                            // ...but it does contain 'the'
    assert(!flags(4)._5 && flags(4)._2)            // stopword gate only
  }

  test("wordlen gate is exact cross-multiplied integer arithmetic (no fp drift)") {
    // mean token length exactly 3.0: loLen=3 boundary must PASS (<=)
    val docs = Seq((0L, "s", "abc def ghi")).toDF("doc_id", "source", "text")
    val f = Quality.ruleFlags(docs, "text", minTok = 1L, loLen = 3L, hiLen = 3L)
      .select("pass_wordlen").head().getBoolean(0)
    assert(f)
  }

  test("symbol gate boundary: ratio exactly at the threshold fails (strict >)") {
    // text of length 10 with exactly 1 symbol char = 100 permille → the
    // gate needs symPermille·len > 1000·n_sym, 1000 > 1000 is false
    val docs = Seq((0L, "s", "abcd efg,h")).toDF("doc_id", "source", "text")
    assert(docs.select(length(col("text"))).head().getInt(0) === 10)
    val f = Quality.ruleFlags(docs, "text", minTok = 1L, symPermille = 100L)
      .select("pass_symbol").head().getBoolean(0)
    assert(!f)
  }

  test("rejectionReport: totals, survivors and independent fail columns") {
    val docs = Seq(
      (0L, "s0", "the cat sat mat dog fox hen owl"),
      (1L, "s0", "x"),                            // fails len + stop (+wordlen: 1 < 3)
      (2L, "s1", "the cat sat mat dog fox hen owl"))
      .toDF("doc_id", "source", "text")
    val got = Quality.rejectionReport(docs, "source", "text",
        minTok = 3L, maxTok = 100L, loLen = 2L, hiLen = 8L,
        symPermille = 100L, minStop = 1L)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("s0", 2L, 1L, 1L, 1L, 0L, 1L),
      ("s1", 1L, 1L, 0L, 0L, 0L, 0L)))
  }

  test("pass column filters the corpus the way the report counts it") {
    val docs = Tables(sf0001)
    val flags = Quality.ruleFlags(docs, "text")
    val nPass = flags.where(col("pass")).count()
    val reported = Quality.rejectionReport(docs, "source", "text")
      .agg(sum("n_pass")).head().getLong(0)
    assert(nPass === reported)
  }

  private def Tables(d: String) = graft.core.Tables.documents(spark, d)

  // ---- repetitionFlags (Gopher §A1.1 repetition rules) ----

  test("repetitionFlags: top-n counts and dup-n union coverage on " +
      "hand-computed docs, including the overlapping-occurrence merge") {
    val docs = Seq(
      // 6 toks; "a b" ×3 (top2=3), "a b a" ×2, "a b a b" ×2; no dup 5-gram
      (1L, "a b a b a b"),
      // 13 toks; dup 5-grams at pos {0,1,7,8} → union [0,6)∪[7,13) = 12
      // (pos 0 and 1 OVERLAP — the island merge must not double-count);
      // dup6 same islands = 12; dup7 zero (the 'z' breaks every 7-gram)
      (2L, "x1 x2 x3 x4 x5 x6 z x1 x2 x3 x4 x5 x6"),
      // too short for any rule's grams beyond n=1: everything 0, passes
      (3L, "solo"))
      .toDF("doc_id", "text")
    val got = Quality.repetitionFlags(docs, "doc_id", "text")
      .select("doc_id", "n_tok", "top2_cnt", "top3_cnt", "top4_cnt",
        "dup5_cov", "dup6_cov", "dup7_cov", "dup10_cov",
        "pass_top2", "pass_dup5", "pass_rep")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long,
        Boolean, Boolean, Boolean)].collect().toSeq
    assert(got(0) === ((1L, 6L, 3L, 2L, 2L, 0L, 0L, 0L, 0L,
      false, true, false)))  // 1000·3·2 > 200·6 → top2 fails
    assert(got(1)._3 === 2L, "each 'xi xj' 2-gram repeats across the halves")
    assert(got(1)._6 === 12L, "dup5 union coverage merges the overlap")
    assert(got(1)._7 === 12L)
    assert(got(1)._8 === 0L)
    assert(!got(1)._11 && !got(1)._12) // 1000·12 > 150·13 → dup5 fails
    assert(got(2) === ((3L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L,
      true, true, true)))
  }

  test("repetitionFlags: pass flags are exactly the cross-multiplied " +
      "gates over the evidence integers; partition-invariant") {
    val docs = Tables(sf0001).limit(100)
    val a = Quality.repetitionFlags(docs, "doc_id", "text")
      .select("doc_id", "n_tok", "top2_cnt", "dup5_cov",
        "pass_top2", "pass_dup5")
      .as[(Long, Long, Long, Long, Boolean, Boolean)].collect().toSeq
    a.foreach { case (id, nTok, top2, dup5, pTop2, pDup5) =>
      assert(pTop2 === (1000L * top2 * 2 <= 200L * nTok), s"doc $id")
      assert(pDup5 === (1000L * dup5 <= 150L * nTok), s"doc $id")
    }
    val b = Quality.repetitionFlags(docs.repartition(7), "doc_id", "text")
      .select("doc_id", "n_tok", "top2_cnt", "dup5_cov",
        "pass_top2", "pass_dup5")
      .as[(Long, Long, Long, Long, Boolean, Boolean)].collect().toSeq
    assert(a.sortBy(_._1) === b.sortBy(_._1))
  }

  test("native RepetitionStats == declarative fold twin on the whole " +
      "fixture, every width 2..10 (bit parity); multi == single") {
    import graft.functions.TextFunctions.wsTokens
    import graft.functions.expressions.TextHashExpressions
    val widths = (2 to 10).toSeq
    val docs = Tables(sf0001).withColumn("__toks", wsTokens(col("text")))
    // ONE projection evaluates each twin once per row and width, and the
    // rows are compared on the driver: a filter over the three structs
    // would be pushed below the projection with every reference inlined,
    // evaluating each twin once per reference
    val rows = docs.select(
        TextHashExpressions.repetitionStatsMulti(col("__toks"), widths).as("c") +:
          widths.flatMap(n => Seq(
            TextHashExpressions.repetitionStats(col("__toks"), n).as(s"a$n"),
            Quality.repetitionStatsFold(col("__toks"), n).as(s"b$n"))): _*)
      .collect()
    def stats(r: org.apache.spark.sql.Row): Option[(Long, Long)] =
      Option(r).map(x => (x.getAs[Long]("top_cnt"), x.getAs[Long]("dup_cov")))
    widths.foreach { n =>
      val diff = rows.count { r =>
        val a = stats(r.getAs[org.apache.spark.sql.Row](s"a$n"))
        a != stats(r.getAs[org.apache.spark.sql.Row](s"b$n")) ||
          a != stats(r.getSeq[org.apache.spark.sql.Row](0)(n - 2))
      }
      assert(diff === 0, s"native vs fold vs multi diverged at n=$n")
    }
  }

  test("RepetitionStats null contract matches the fold twin: null " +
      "ELEMENTS hash like concat_ws (skipped), a null ARRAY yields null") {
    import graft.functions.expressions.TextHashExpressions
    // [a, null, a, null, a]: concat_ws-joined 2-gram windows are
    // "a" (x4... positions 0..3) — window [a,null] and [null,a] both
    // hash the single written token; the native pass must agree with
    // the fold's md5Low60(concat_ws(...)) byte-for-byte
    val rows = Seq(
      (1L, Seq[String]("a", null, "a", null, "a")),
      (2L, null.asInstanceOf[Seq[String]]))
      .toDF("id", "toks")
    (2 to 3).foreach { n =>
      val got = rows.select(col("id"),
          TextHashExpressions.repetitionStats(col("toks"), n).as("a"),
          Quality.repetitionStatsFold(col("toks"), n).as("b"))
        .orderBy("id")
        .select(col("id"),
          col("a.top_cnt"), col("a.dup_cov"), col("a").isNull.as("an"),
          col("b.top_cnt"), col("b.dup_cov"), col("b").isNull.as("bn"))
        .collect()
      assert(got(0).getBoolean(3) === false && got(0).getBoolean(6) === false)
      assert(got(0).getLong(1) === got(0).getLong(4), s"top_cnt n=$n")
      assert(got(0).getLong(2) === got(0).getLong(5), s"dup_cov n=$n")
      assert(got(1).getBoolean(3) && got(1).getBoolean(6),
        s"null array must be null on BOTH forms at n=$n")
    }
  }

  test("repetitionFlags guards: bad n, bad permille, duplicate n, " +
      "empty rule lists all fail loud; no cross-document join in plan") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Quality.repetitionFlags(docs, "doc_id", "text", topNs = Seq(0 -> 100L))
    }
    intercept[IllegalArgumentException] {
      Quality.repetitionFlags(docs, "doc_id", "text", topNs = Seq(2 -> 1200L))
    }
    intercept[IllegalArgumentException] {
      Quality.repetitionFlags(docs, "doc_id", "text",
        dupNs = Seq(5 -> 100L, 5 -> 200L))
    }
    intercept[IllegalArgumentException] {
      Quality.repetitionFlags(docs, "doc_id", "text",
        topNs = Nil, dupNs = Nil)
    }
    // row-local contract: the whole operator is one projection chain —
    // zero shuffle, zero join, like scrub/q158
    val plan = Quality.repetitionFlags(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
  }
}
