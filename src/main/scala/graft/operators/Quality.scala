package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Gopher-style document quality RULE-PACK — the hard FILTER stage of a
  * pretraining pipeline, distinct from q22's soft quality SCORE: each rule
  * is a boolean gate, and the per-source rejection matrix (which corpus
  * loses how many docs to which rule) is the report a data curator actually
  * reads before committing a mixture.
  *
  * Rules follow Rae et al. 2021 (Gopher, §A1.1) re-expressed over exact
  * integers so the flags hash-match a SQL oracle bit-for-bit:
  *   - length:   minTok <= n_tok <= maxTok        (Gopher: 50..100k words)
  *   - wordlen:  loLen·n_tok <= Σ|tok| <= hiLen·n_tok  (mean word length
  *               in [loLen, hiLen] — stated as cross-multiplied Longs,
  *               no division)
  *   - symbol:   symPermille·len(text) > 1000·|symbols| (symbol-to-char
  *               ratio below symPermille/1000; symbols = non-alnum-non-space)
  *   - stopword: >= minStop occurrences of the English stop set (Gopher
  *               requires 2 of its 8; the set here is [[LangMarkers]]'s
  *               "en" row, shared with q21/q22)
  *
  * Everything is one map-side pass over the text column — no shuffle until
  * the report's tiny per-source hash-agg — so the filter runs at scan
  * speed on any corpus size.
  */
object Quality {

  /** Per-doc rule flags; keeps the inputs (n_tok, sum_len, n_sym, c_stop)
    * so a report can aggregate or a filter can `where(col("pass"))`.
    */
  def ruleFlags(df: DataFrame, textCol: String,
      minTok: Long = 15L, maxTok: Long = 500L,
      loLen: Long = 3L, hiLen: Long = 8L,
      symPermille: Long = 100L, minStop: Long = 1L): DataFrame = {
    require(minTok >= 0 && maxTok >= minTok, s"bad token bounds [$minTok,$maxTok]")
    require(loLen >= 0 && hiLen >= loLen, s"bad word-length bounds [$loLen,$hiLen]")
    val toks = wsTokens(col(textCol))
    val nTok = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (acc, x) => acc + length(x).cast("long"))
    val nSym = length(regexp_replace(col(textCol), "[A-Za-z0-9 ]", "")).cast("long")
    val cStop = markerCount(toks, LangMarkers.head._2).cast("long")
    val out = df
      .withColumn("n_tok", nTok)
      .withColumn("sum_len", sumLen)
      .withColumn("n_sym", nSym)
      .withColumn("c_stop", cStop)
      .withColumn("pass_len",
        col("n_tok") >= minTok && col("n_tok") <= maxTok)
      .withColumn("pass_wordlen",
        lit(loLen) * col("n_tok") <= col("sum_len") &&
          col("sum_len") <= lit(hiLen) * col("n_tok"))
      .withColumn("pass_symbol",
        lit(symPermille) * length(col(textCol)).cast("long") >
          lit(1000L) * col("n_sym"))
      .withColumn("pass_stop", col("c_stop") >= minStop)
    out.withColumn("pass",
      col("pass_len") && col("pass_wordlen") &&
        col("pass_symbol") && col("pass_stop"))
  }

  /** Gopher REPETITION rules (Rae et al. 2021 §A1.1, second half) — the
    * within-document twin of the corpus-level dedup family: a document
    * whose text is dominated by its own repeated n-grams (keyword
    * stuffing, boilerplate loops, degenerate generations) is filtered
    * even when no other document duplicates it. Two rule shapes, each
    * re-expressed at TOKEN granularity over exact integers (the
    * [[ruleFlags]] discipline — cross-multiplied Longs, no division, so
    * every flag hash-matches a SQL oracle; Gopher states the thresholds
    * over characters, but the ratio semantics carry over and the
    * fixture's synthetic token streams have no meaningful intra-token
    * chars):
    *   - top n-gram (n = 2..4): occurrences of the single most frequent
    *     n-gram × n, as a fraction of n_tok — Gopher thresholds
    *     0.20 / 0.18 / 0.16;
    *   - duplicated n-gram (n = 5..10): tokens covered by the UNION of
    *     all occurrences of n-grams appearing ≥ 2 times in the doc
    *     (each token counted once — the q153 island fold), as a fraction
    *     of n_tok — Gopher thresholds 0.15 down to 0.10.
    *
    * Scale shape: every metric is WITHIN one document, so the whole
    * operator is ONE row-local projection — per width n, one native
    * [[graft.functions.expressions.RepetitionStats]] pass (O(G log G)
    * per row: hash grams, sort, longest run = top count, duplicated
    * occurrences' positions island-fold into the union coverage),
    * staged as a column so a width both rule kinds need is computed
    * once. No explode, no aggregation, NO shuffle anywhere: the corpus
    * scan is the cost at any corpus size, and the operator composes
    * into streaming unchanged (row-local ⇒ batch ≡ stream — the q158
    * argument). The native pass is bit-parity-pinned against the
    * declarative [[repetitionStatsFold]] twin. The gram key is
    * md5-low-60; a collision would need two distinct grams of one
    * document to share 60 bits — negligible, and the oracle hashes
    * identically. Output: `df` + n_tok, per-rule integer evidence
    * (top{n}_cnt, dup{n}_cov), per-rule pass flags, and the conjunction
    * `pass_rep`.
    */
  def repetitionFlags(df: DataFrame, idCol: String, textCol: String,
      topNs: Seq[(Int, Long)] = Seq(2 -> 200L, 3 -> 180L, 4 -> 160L),
      dupNs: Seq[(Int, Long)] = Seq(5 -> 150L, 6 -> 140L, 7 -> 130L,
        8 -> 120L, 9 -> 110L, 10 -> 100L)): DataFrame = {
    require(topNs.nonEmpty || dupNs.nonEmpty,
      "repetitionFlags: no rules requested")
    require(topNs.map(_._1).distinct.size == topNs.size &&
      dupNs.map(_._1).distinct.size == dupNs.size,
      "repetitionFlags: duplicate n in a rule list")
    (topNs ++ dupNs).foreach { case (n, pm) =>
      require(n >= 1, s"repetitionFlags: n $n must be >= 1")
      require(pm >= 0 && pm <= 1000,
        s"repetitionFlags: permille $pm outside [0, 1000]")
    }
    val ns = (topNs.map(_._1) ++ dupNs.map(_._1)).distinct.sorted
    val idxOf = ns.zipWithIndex.toMap
    // staged columns: __toks once, then ONE multi-width native pass —
    // token bytes are extracted once and every width loops over them;
    // a width needed by both rule kinds is computed once
    val staged = df
      .withColumn("__toks", wsTokens(col(textCol)))
      .withColumn("n_tok", size(col("__toks")).cast("long"))
      .withColumn("__rs", graft.functions.expressions
        .TextHashExpressions.repetitionStatsMulti(col("__toks"), ns))
    val withTop = topNs.foldLeft(staged) { case (d, (n, _)) =>
      d.withColumn(s"top${n}_cnt",
        col("__rs").getItem(idxOf(n)).getField("top_cnt"))
    }
    val withCov = dupNs.foldLeft(withTop) { case (d, (n, _)) =>
      d.withColumn(s"dup${n}_cov",
        col("__rs").getItem(idxOf(n)).getField("dup_cov"))
    }
    val withPass = topNs.foldLeft(withCov) { case (d, (n, pm)) =>
      d.withColumn(s"pass_top$n",
        lit(1000L) * col(s"top${n}_cnt") * n <= lit(pm) * col("n_tok"))
    }
    val withDup = dupNs.foldLeft(withPass) { case (d, (n, pm)) =>
      d.withColumn(s"pass_dup$n",
        lit(1000L) * col(s"dup${n}_cov") <= lit(pm) * col("n_tok"))
    }
    val passCols = topNs.map(n => s"pass_top${n._1}") ++
      dupNs.map(n => s"pass_dup${n._1}")
    withDup
      .withColumn("pass_rep", passCols.map(col).reduce(_ && _))
      .drop("__toks", "__rs")
  }

  /** Declarative fold TWIN of the native
    * [[graft.functions.expressions.RepetitionStats]] — the reference
    * semantics both statistics are parity-pinned against (QualitySpec,
    * the WinnowFps/md5Low60Fold discipline). Sort the (gram-hash, pos)
    * pairs (struct natural order), read top_cnt as the longest
    * equal-hash run, mark duplicated occurrences by sorted-neighbour
    * equality, island-fold their re-sorted positions into the union
    * coverage. Interpreted lambdas — keep the native form in pipelines.
    *
    * The sorted pairs are built ONCE per row and bound to a lambda
    * variable (a one-element `transform`): a Column expression referenced
    * inside a lambda is re-evaluated at every reference, so each
    * `element_at(pairs, i)` would otherwise re-hash and re-sort the whole
    * document for every i.
    */
  def repetitionStatsFold(toks: Column, n: Int): Column = {
    // null-input contract aligned with the native expression: null
    // tokens array → null struct (UnaryExpression propagation), and a
    // null ELEMENT is skipped by concat_ws inside overlappingGrams —
    // both pinned in QualitySpec
    val sortedPairs = array_sort(transform(overlappingGrams(toks, n), (g, i) =>
      struct(md5Low60(g).as("gh"), i.as("pos"))))
    def stats(pairs: Column): Column = {
      val m = size(pairs)
      val topCnt = aggregate(pairs,
        struct(lit(0L).as("prev"), lit(false).as("has"),
          lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(acc.getField("has") &&
              acc.getField("prev") === x.getField("gh"),
            acc.getField("run") + 1L).otherwise(lit(1L))
          struct(x.getField("gh").as("prev"), lit(true).as("has"),
            run.as("run"), greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
      // element_at neighbours are branch-guarded: the out-of-range index
      // is never evaluated (If is lazy)
      val dupPos = array_sort(
        when(m === 0, array().cast("array<int>")).otherwise(
          filter(transform(sequence(lit(1), m), i => {
            val cur = element_at(pairs, i)
            val prevEq = when(i > 1,
              element_at(pairs, i - 1).getField("gh") === cur.getField("gh"))
              .otherwise(lit(false))
            val nextEq = when(i < m,
              element_at(pairs, i + 1).getField("gh") === cur.getField("gh"))
              .otherwise(lit(false))
            when(prevEq || nextEq, cur.getField("pos")).otherwise(lit(-1))
          }), x => x >= 0)))
      val cov = aggregate(dupPos,
        struct(lit(0L).as("rm"), lit(-1).as("me")),
        (acc, pp) => struct(
          (acc.getField("rm") + greatest(lit(0),
            (pp + lit(n)) - greatest(acc.getField("me"), pp)).cast("long"))
            .as("rm"),
          greatest(acc.getField("me"), pp + lit(n)).as("me")),
        acc => acc.getField("rm"))
      struct(topCnt.as("top_cnt"), cov.as("dup_cov"))
    }
    when(toks.isNotNull, element_at(transform(array(sortedPairs), p => stats(p)), 1))
  }

  private def fails(flag: String): Column =
    sum(when(col(flag), 0L).otherwise(1L)).as(flag.replace("pass_", "fail_"))

  /** The curator's rejection matrix: per group, total docs, survivors, and
    * how many docs each rule rejects (rules judged independently — a doc
    * failing two rules counts in both columns).
    */
  def rejectionReport(df: DataFrame, groupCol: String, textCol: String,
      minTok: Long = 15L, maxTok: Long = 500L,
      loLen: Long = 3L, hiLen: Long = 8L,
      symPermille: Long = 100L, minStop: Long = 1L): DataFrame =
    ruleFlags(df, textCol, minTok, maxTok, loLen, hiLen, symPermille, minStop)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        fails("pass_len"), fails("pass_wordlen"),
        fails("pass_symbol"), fails("pass_stop"))
      .orderBy(groupCol)
}
