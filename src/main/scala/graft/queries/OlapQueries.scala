package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions.wsTokens
import graft.operators.{Graph, Sketch}

/** Warehouse-analytics queries over the TPC-H-shaped tables — the classic
  * agg-join pipelines (pricing summary, segment revenue top-n, regional
  * volume) plus the graph/sketch profiling extensions (integer PageRank,
  * count-min heavy hitters, mixture allocation).
  *
  * Float-parity discipline (FIXTURES.md §3): money columns are DOUBLE, and
  * a double SUM is order-of-reduction dependent, so every revenue metric
  * is scaled to exact integers per row BEFORE aggregation —
  * `floor(x * 1000)` mirrored as `CAST(floor(x * 1000) AS BIGINT)` (floor,
  * not cast: Spark truncates double→long where DuckDB rounds). Per-row
  * products like `price * (1 - disc) * 1000` are identical left-assoc IEEE
  * double ops on both engines, so the scaled integers agree bit-exactly.
  */
object OlapQueries {

  // revenue in exact milli-units: floor(extprice * (1 - disc) * 1000)
  private def discPriceM = floor(col("l_extendedprice") *
    (lit(1.0) - col("l_discount")) * 1000).cast("long")

  private val duckDiscM =
    "CAST(floor(l_extendedprice * (1.0 - l_discount) * 1000) AS BIGINT)"

  def all: Seq[QueryDef] = Seq(

    // Pricing summary (the TPC-H Q1 shape): one wide scan → hash-agg on a
    // 6-group key. THE map-side-combine showcase: partial aggregation
    // reduces 100 TB of lineitem to 6 rows per task before the shuffle,
    // so the exchange carries O(tasks), not O(rows). The shipdate filter
    // prunes at the parquet scan (PushedFilters). sum_qty is in
    // centi-units (quantity has 2 decimals), money in milli-units.
    QueryDef("q67_pricing_summary",
      (s, d) => Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
        .select(col("l_returnflag"), col("l_linestatus"),
          floor(col("l_quantity") * 100).cast("long").as("qty_c"),
          floor(col("l_extendedprice") * 1000).cast("long").as("price_m"),
          discPriceM.as("disc_m"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax")) * 1000).cast("long").as("charge_m"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("qty_c").as("sum_qty_c"), sum("price_m").as("sum_base_m"),
          sum("disc_m").as("sum_disc_m"), sum("charge_m").as("sum_charge_m"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(SUM(CAST(floor(l_extendedprice * 1000) AS BIGINT)) AS BIGINT) AS sum_base_m,
        |  CAST(SUM($duckDiscM) AS BIGINT) AS sum_disc_m,
        |  CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 1000) AS BIGINT)) AS BIGINT) AS sum_charge_m,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Segment revenue top-n (the TPC-H Q3 shape): filtered dim → fact →
    // fact chain. customer(segment) ⋈ orders(date) shuffles on custkey,
    // the result ⋈ lineitem(shipdate) on orderkey — both join keys ARE
    // the natural partitioning keys, so at 100 TB each join is one
    // co-partitioned shuffle and AQE broadcast-converts the filtered
    // customer side when it fits. Top-10 via TakeOrderedAndProject
    // (per-partition heaps, k rows to the driver — never a full sort).
    QueryDef("q68_shipping_priority",
      (s, d) => {
        val cutoff = lit("1998-06-30").cast("timestamp")
        val c = Tables.customer(s, d)
          .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val o = Tables.orders(s, d)
          .where(col("o_orderdate") < cutoff)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        val l = Tables.lineitem(s, d)
          .where(col("l_shipdate") > cutoff)
          .select(col("l_orderkey"), discPriceM.as("disc_m"))
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(sum("disc_m").as("revenue_m"))
          .orderBy(col("revenue_m").desc, col("o_orderdate").asc,
            col("l_orderkey").asc)
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM($duckDiscM) AS BIGINT) AS revenue_m
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-30'
        |  AND l_shipdate > TIMESTAMP '1998-06-30'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_m DESC, o_orderdate ASC, l_orderkey ASC LIMIT 10""".stripMargin)),

    // Regional supplier volume (the TPC-H Q5 shape): the snowflake
    // region → nation → supplier chain collapses to one broadcast (dims
    // are tiny even at 100 TB: suppliers are ~1e-4 of lineitem), so the
    // fact side is scanned ONCE with the region predicate applied as a
    // broadcast semi-filter; only the orders/customer joins shuffle, on
    // their natural keys. The c_nationkey = s_nationkey condition ("local"
    // volume) rides the customer join — no extra exchange.
    QueryDef("q69_local_supplier_volume",
      (s, d) => {
        val sup = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("s_suppkey", "s_nationkey", "n_name")
        val l = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"), discPriceM.as("disc_m"))
        val o = Tables.orders(s, d)
          .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .groupBy("n_name")
          .agg(sum("disc_m").as("revenue_m"))
          .orderBy(col("revenue_m").desc, col("n_name").asc)
      },
      Some(s"""SELECT n_name, CAST(SUM($duckDiscM) AS BIGINT) AS revenue_m
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue_m DESC, n_name ASC""".stripMargin)),

    // Integer-exact PageRank over the supplier–part bipartite graph
    // (who-supplies-what from lineitem; part nodes offset by 1e6 into a
    // shared id space). The corpus-curation analog: rank crawl domains by
    // link centrality to weight sampling. 3 rounds, damping 85/100,
    // micro-rank scale — all-Long arithmetic (Graph.pageRankInt), so the
    // oracle's unrolled iterations match bit-exactly; top-20 hubs.
    QueryDef("q70_pagerank",
      (s, d) => {
        // distinct on the HALF-size pair set, then symmetrize: suppkeys
        // (< 1e6) and shifted partkeys (> 1e6) are disjoint ranges, so
        // the reversed union introduces no duplicates and pageRankInt
        // can skip its own full-edge distinct (dedupe = false) — the
        // widest shuffle of the query, halved (ReuseExchange shares the
        // one distinct between the two union branches)
        // the 1e6 shift keeps supp and part node ids disjoint only while
        // suppkey < 1e6 (suppkey max = sf×10_000, so sf >= 100 breaks it:
        // shifted partkeys would collide with suppkeys and silently
        // inflate degrees). Guard IN the row path — codegen'd per-row
        // comparison, no extra job — so a big-SF run fails loudly.
        val sp = Tables.lineitem(s, d)
          .select(
            when(col("l_suppkey") < lit(1000000L), col("l_suppkey"))
              .otherwise(raise_error(concat(
                lit("q70: l_suppkey "), col("l_suppkey"),
                lit(" >= 1000000 collides with the partkey node-id shift"))))
              .as("a"),
            (col("l_partkey") + lit(1000000L)).as("b"))
          .distinct()
        val edges = sp.union(sp.select(col("b").as("a"), col("a").as("b")))
        // symmetric = true: edges is its own reversal by construction, so
        // every node has an in-edge — pageRankInt skips the per-round
        // nodes left-join and the nodes distinct entirely
        val ranks = Graph.pageRankInt(edges, "a", "b", iters = 3,
          dedupe = false, symmetric = true)
        // OWNED block lifetime, as in q17: the ranks frame reads the block
        // pageRankInt materialized, so the top 20 (at most 20 rows, the
        // limit) are collected first, then the block is freed, and the
        // answer escapes as a driver-side local relation
        val top = ranks.orderBy(col("rank").desc, col("id").asc).limit(20)
        val rows = try top.collect() finally Graph.freeMaterialized(ranks)
        s.createDataFrame(java.util.Arrays.asList(rows: _*), top.schema)
      },
      Some("""WITH sp AS (SELECT DISTINCT l_suppkey AS a, l_partkey + 1000000 AS b FROM lineitem),
        |e AS (SELECT a AS s, b AS d FROM sp UNION SELECT b AS s, a AS d FROM sp),
        |deg AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s),
        |n AS (SELECT DISTINCT s AS id FROM e UNION SELECT DISTINCT d AS id FROM e),
        |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM n),
        |c1 AS (SELECT e.d AS id, CAST(SUM(r0.rank // deg.deg) AS BIGINT) AS cs
        |  FROM e JOIN r0 ON e.s = r0.id JOIN deg ON e.s = deg.s GROUP BY e.d),
        |r1 AS (SELECT n.id, 150000 + (85 * COALESCE(c1.cs, 0)) // 100 AS rank
        |  FROM n LEFT JOIN c1 ON n.id = c1.id),
        |c2 AS (SELECT e.d AS id, CAST(SUM(r1.rank // deg.deg) AS BIGINT) AS cs
        |  FROM e JOIN r1 ON e.s = r1.id JOIN deg ON e.s = deg.s GROUP BY e.d),
        |r2 AS (SELECT n.id, 150000 + (85 * COALESCE(c2.cs, 0)) // 100 AS rank
        |  FROM n LEFT JOIN c2 ON n.id = c2.id),
        |c3 AS (SELECT e.d AS id, CAST(SUM(r2.rank // deg.deg) AS BIGINT) AS cs
        |  FROM e JOIN r2 ON e.s = r2.id JOIN deg ON e.s = deg.s GROUP BY e.d),
        |r3 AS (SELECT n.id, CAST(150000 + (85 * COALESCE(c3.cs, 0)) // 100 AS BIGINT) AS rank
        |  FROM n LEFT JOIN c3 ON n.id = c3.id)
        |SELECT id, rank FROM r3 ORDER BY rank DESC, id ASC LIMIT 20""".stripMargin)),

    // Count-min heavy hitters: build a 4×64 sketch over the token stream,
    // then compare the sketch estimate against the true count for the 10
    // most frequent tokens (est >= true always; the gap IS the collision
    // noise at this tiny width). The salted-md5 hashing makes the whole
    // grid engine-portable, so even the estimates hash-match.
    QueryDef("q71_countmin_heavy_hitters",
      (s, d) => {
        val toks = Tables.documentsPar(s, d)
          .select(explode(wsTokens(col("text"))).as("tok"))
        val sk = Sketch.countMin(toks, "tok", depth = 4, width = 64)
        val top = toks.groupBy("tok").agg(count(lit(1)).as("true_cnt"))
          .orderBy(col("true_cnt").desc, col("tok").asc).limit(10)
        Sketch.estimate(sk, top.select("tok"), "tok", depth = 4, width = 64)
          .join(top, "tok")
          .select("tok", "true_cnt", "est")
          .orderBy(col("true_cnt").desc, col("tok").asc)
      },
      Some("""WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        |rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
        |g AS (SELECT r, CAST(CAST('0x' || substr(md5('cm' || CAST(r AS VARCHAR) || ':' || tok), 25, 8) AS BIGINT) % 64 AS BIGINT) AS b
        |  FROM t CROSS JOIN rs),
        |sk AS (SELECT r, b, COUNT(*) AS cnt FROM g GROUP BY r, b),
        |top AS (SELECT tok, COUNT(*) AS true_cnt FROM t GROUP BY tok
        |  ORDER BY true_cnt DESC, tok ASC LIMIT 10),
        |pe AS (SELECT top.tok, top.true_cnt, CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS est
        |  FROM top CROSS JOIN rs LEFT JOIN sk ON sk.r = rs.r
        |    AND sk.b = CAST(CAST('0x' || substr(md5('cm' || CAST(rs.r AS VARCHAR) || ':' || top.tok), 25, 8) AS BIGINT) % 64 AS BIGINT)
        |  GROUP BY top.tok, top.true_cnt)
        |SELECT tok, true_cnt, est FROM pe ORDER BY true_cnt DESC, tok ASC""".stripMargin)),

    // Temperature-flattened mixture allocation (the multilingual-corpus
    // sampling rule: weight ∝ n^α with α = 0.5 flattens head languages so
    // low-resource ones keep representation). Exact-integer discipline:
    // sqrt is a correctly-rounded IEEE op (same bits on both engines),
    // weights are floored to milli-units, the normalizer is an exact Long
    // sum, and the per-language allocation of a 100k-token budget is
    // integer floor division — no order-dependent float anywhere.
    QueryDef("q72_mixture_alloc",
      (s, d) => {
        val perLang = Tables.documents(s, d)
          .select(col("lang"), size(wsTokens(col("text"))).cast("long").as("ntok"))
          .groupBy("lang").agg(sum("ntok").as("n_toks"))
        val weighted = perLang.withColumn("w_m",
          floor(sqrt(col("n_toks").cast("double")) * 1000).cast("long"))
        val total = weighted.agg(sum("w_m").as("tw"))
        weighted.crossJoin(broadcast(total))
          .select(col("lang"), col("n_toks"), col("w_m"),
            expr("(100000 * w_m) div tw").as("alloc_toks"))
          .orderBy("lang")
      },
      Some("""WITH t AS (SELECT lang, len(regexp_split_to_array(trim(text), '\s+')) AS ntok FROM documents),
        |p AS (SELECT lang, CAST(SUM(ntok) AS BIGINT) AS n_toks FROM t GROUP BY lang),
        |w AS (SELECT lang, n_toks, CAST(floor(sqrt(CAST(n_toks AS DOUBLE)) * 1000) AS BIGINT) AS w_m FROM p),
        |tw AS (SELECT CAST(SUM(w_m) AS BIGINT) AS tw FROM w)
        |SELECT lang, n_toks, w_m, CAST((100000 * w_m) // tw AS BIGINT) AS alloc_toks
        |FROM w, tw ORDER BY lang""".stripMargin)),

    // Z-order layout clustering (Layout.morton2): interleave a user
    // hash-dim (user_id % 1024) with a time-of-day dim (second-of-day /
    // 128) and bucket rows by the code's top 5 bits — the file-assignment
    // rule of an OPTIMIZE ZORDER rewrite, minus the write. The per-bucket
    // min/max stats ARE the payoff being demonstrated: every bucket
    // bounds BOTH dimensions, so parquet row-group stats would prune a
    // scan filtering on either user or time. Pure codegen'd bit
    // arithmetic — identical in any engine, zero UDFs, one hash-agg
    // shuffle (never a global sort).
    QueryDef("q73_zorder_stats",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          pmod(col("user_id"), lit(1024L)).as("u"),
          expr("pmod(ts div 1000000000, 86400) div 128").as("t"))
        ev.withColumn("bucket",
            shiftright(graft.functions.Layout.morton2(col("u"), col("t")), 15))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min("u").as("u_min"), max("u").as("u_max"),
            min("t").as("t_min"), max("t").as("t_max"))
          .orderBy("bucket")
      },
      Some("""WITH dims AS (SELECT user_id % 1024 AS u,
        |  (CAST(epoch_us(ts) AS BIGINT) // 1000000) % 86400 // 128 AS t FROM events),
        |sp AS (SELECT u, t, u AS xu, t AS xt FROM dims),
        |s1 AS (SELECT u, t,
        |  ((xu | (xu << 16)) & 281470681808895) AS au,
        |  ((xt | (xt << 16)) & 281470681808895) AS at FROM sp),
        |s2 AS (SELECT u, t,
        |  ((au | (au << 8)) & 71777214294589695) AS au,
        |  ((at | (at << 8)) & 71777214294589695) AS at FROM s1),
        |s3 AS (SELECT u, t,
        |  ((au | (au << 4)) & 1085102592571150095) AS au,
        |  ((at | (at << 4)) & 1085102592571150095) AS at FROM s2),
        |s4 AS (SELECT u, t,
        |  ((au | (au << 2)) & 3689348814741910323) AS au,
        |  ((at | (at << 2)) & 3689348814741910323) AS at FROM s3),
        |s5 AS (SELECT u, t,
        |  ((au | (au << 1)) & 6148914691236517205) AS au,
        |  ((at | (at << 1)) & 6148914691236517205) AS at FROM s4),
        |z AS (SELECT u, t, (au | (at << 1)) >> 15 AS bucket FROM s5)
        |SELECT bucket, COUNT(*) AS n, MIN(u) AS u_min, MAX(u) AS u_max,
        |  MIN(t) AS t_min, MAX(t) AS t_max
        |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Large-order detection (the TPC-H Q18 shape): aggregate lineitem per
    // order, keep orders over a quantity threshold (HAVING), then join
    // the survivors BACK to orders/customer for context — the
    // aggregate-then-semi-enrich pattern. The qualifying set is tiny, so
    // the enrichment joins broadcast it; the only full shuffle is the
    // per-order agg on lineitem's natural key. Quantities in exact
    // centi-units.
    QueryDef("q77_large_orders",
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sum(floor(col("l_quantity") * 100).cast("long")).as("sum_qty_c"))
          .where(col("sum_qty_c") > 25000L)
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        val c = Tables.customer(s, d).select("c_custkey", "c_name")
        o.join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
            floor(col("o_totalprice") * 100).cast("long").as("price_c"),
            col("sum_qty_c"))
          .orderBy(col("sum_qty_c").desc, col("o_orderkey").asc)
          .limit(20)
      },
      Some("""WITH big AS (SELECT l_orderkey,
        |  CAST(SUM(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c
        |  FROM lineitem GROUP BY l_orderkey HAVING sum_qty_c > 25000)
        |SELECT c_name, o_orderkey, o_orderdate,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS price_c, sum_qty_c
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty_c DESC, o_orderkey ASC LIMIT 20""".stripMargin)),

    // Bloom-filter semi-join pruning (Bloom.mightContain) — the explicit
    // runtime-filter: lineitem rows are dropped ROW-LOCALLY (plan-literal
    // bitmap, codegen, pre-shuffle) unless their orderkey might be in the
    // selective high-price order subset. The PASS SET (true matches +
    // md5-deterministic false positives) is itself the oracle-checked
    // output: the oracle reproduces membership against the distinct
    // bit-position set, which equals the bitmap without replaying the
    // 64-bit word packing (DuckDB raises on 1<<63 where the JVM wraps).
    QueryDef("q91_bloom_semijoin",
      (s, d) => {
        val dim = Tables.orders(s, d)
          .where(col("o_totalprice") > 470000.0)
          .select(col("o_orderkey").as("key")).distinct()
        val bloom = graft.operators.Bloom.buildBitmap(dim, "key",
          bits = 4096, k = 5)
        Tables.lineitem(s, d)
          .where(graft.operators.Bloom.mightContain(bloom,
            col("l_orderkey"), k = 5))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_pass"),
            sum(col("l_quantity")).cast("long").as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some("""WITH dim AS (SELECT DISTINCT o_orderkey AS key FROM orders WHERE o_totalprice > 470000),
        |bloomset AS (SELECT DISTINCT CAST('0x'||substr(md5('bf0:'||CAST(key AS VARCHAR)), 1+6*CAST(i AS INT), 6) AS BIGINT) % 4096 AS p
        |  FROM dim, range(0,5) t(i)),
        |probe AS (SELECT k.l_orderkey,
        |    CAST('0x'||substr(md5('bf0:'||CAST(k.l_orderkey AS VARCHAR)), 1+6*CAST(i AS INT), 6) AS BIGINT) % 4096 AS p
        |  FROM (SELECT DISTINCT l_orderkey FROM lineitem) k, range(0,5) t(i)),
        |pass AS (SELECT l_orderkey FROM probe JOIN bloomset USING (p)
        |  GROUP BY 1 HAVING COUNT(*) = 5)
        |SELECT l_returnflag, COUNT(*) AS n_pass,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN pass USING (l_orderkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Typo-level similarity over the name VOCABULARY (the SymSpell shape:
    // spell-correction pairs distinct words, then weights by occurrence
    // count — pairing occurrences directly is output-quadratic in the
    // multiplicity and tells you nothing new). Aggregate to distinct
    // names + counts (one hash-agg: 20k rows → 64 names here; Zipf keeps
    // vocab ≪ corpus at any scale), then Dedup.editDistancePairs
    // generates candidates via DELETION-NEIGHBORHOOD keys — lev ≤ 2
    // strings always share a ≤2-deletion variant, so the equi-join is
    // lossless and no quadratic scan happens even on a million-word
    // vocabulary. Levenshtein is integer DP — identical in any engine.
    // Completes the dedup modality set: exact, shingle-Jaccard, simhash,
    // embedding, chunk, character-edit.
    QueryDef("q78_typo_pairs",
      (s, d) => {
        def vocab = Tables.part(s, d).groupBy(col("p_name"))
          .agg(count(lit(1)).as("cnt"))
        val pairs = graft.operators.Dedup.editDistancePairs(
          vocab.withColumn("all", lit(0)), "p_name", "p_name", "all",
          maxDist = 2)
        pairs
          .join(vocab.select(col("p_name").as("ak"), col("cnt").as("cnt_a")), "ak")
          .join(vocab.select(col("p_name").as("bk"), col("cnt").as("cnt_b")), "bk")
          // BIGINT like the oracle's levenshtein() — dtype parity, not
          // just value parity (the q58/q43 driver-hash lesson)
          .select(col("ak"), col("bk"), col("lev").cast("long").as("lev"),
            col("cnt_a"), col("cnt_b"))
          .orderBy(col("lev").asc, col("ak").asc, col("bk").asc)
          .limit(20)
      },
      Some("""WITH v AS (SELECT p_name, COUNT(*) AS cnt FROM part GROUP BY p_name)
        |SELECT a.p_name AS ak, b.p_name AS bk,
        |  levenshtein(a.p_name, b.p_name) AS lev, a.cnt AS cnt_a, b.cnt AS cnt_b
        |FROM v a JOIN v b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY lev ASC, ak ASC, bk ASC LIMIT 20""".stripMargin)),

    // Exact per-group median (lower median by rank, NOT interpolated:
    // engines interpolate continuous percentiles with different fp
    // formulas, while a rank-selected row is bit-portable by
    // construction). One window sort per group; at 100 TB exact medians
    // genuinely cost a per-group sort — the approximate path swaps in
    // a quantile sketch and drops the cross-engine hash gate.
    QueryDef("q80_group_median",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("prio"))
          .orderBy(col("cents").asc, col("o_orderkey").asc)
        val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("prio"))
        Tables.orders(s, d)
          .select(col("o_orderpriority").as("prio"),
            floor(col("o_totalprice") * 100).cast("long").as("cents"),
            col("o_orderkey"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wn))
          .where(col("rn") === expr("(n + 1) div 2"))
          .select(col("prio"), col("cents").as("median_cents"), col("n"))
          .orderBy("prio")
      },
      Some("""WITH x AS (SELECT o_orderpriority AS prio,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT) ASC, o_orderkey ASC) AS rn,
        |  COUNT(*) OVER (PARTITION BY o_orderpriority) AS n FROM orders)
        |SELECT prio, cents AS median_cents, CAST(n AS BIGINT) AS n
        |FROM x WHERE rn = (n + 1) // 2 ORDER BY prio""".stripMargin)),

    // Freshness-decayed engagement (recency weighting for curation —
    // newer crawl snapshots outweigh stale ones): weight halves every
    // 7 days of age, implemented as an INTEGER RIGHT-SHIFT of a
    // million-scaled unit (1e6 >> (age_days div 7)) so the decayed sum
    // is exact under any reduction order — float exp() decay is
    // engine-divergent and order-dependent. Age is against the corpus
    // max timestamp (one tiny agg, broadcast back). Top-10 users.
    QueryDef("q81_decayed_engagement",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id"),
          expr("ts div 1000000000").as("sec"))
        val mx = ev.agg(max("sec").as("mx"))
        ev.crossJoin(broadcast(mx))
          .select(col("user_id"),
            expr("shiftright(1000000L, cast(least((mx - sec) div 86400 div 7, 62) as int))")
              .as("w"))
          .groupBy("user_id")
          .agg(sum("w").as("decayed_m"), count(lit(1)).as("n_events"))
          .orderBy(col("decayed_m").desc, col("user_id").asc)
          .limit(10)
      },
      Some("""WITH e AS (SELECT user_id,
        |  CAST(epoch_us(ts) AS BIGINT) // 1000000 AS sec FROM events),
        |m AS (SELECT MAX(sec) AS mx FROM e)
        |SELECT user_id,
        |  CAST(SUM(1000000 >> CAST(LEAST((mx - sec) // 86400 // 7, 62) AS INT)) AS BIGINT) AS decayed_m,
        |  COUNT(*) AS n_events
        |FROM e, m GROUP BY user_id
        |ORDER BY decayed_m DESC, user_id ASC LIMIT 10""".stripMargin)),

    // Fixed-width value histogram per event type — the distribution-
    // profiling complement to q63's range stats and q76's outliers.
    // Bucket = floor(value*1000) div 50000 (50-unit buckets in exact
    // milli-ints); one hash-agg, map-side combinable, no floats.
    QueryDef("q82_value_histogram",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          expr("cast(floor(value * 1000) as bigint) div 50000").as("bucket"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bucket"),
      Some("""SELECT event_type,
        |  CAST(floor(value * 1000) AS BIGINT) // 50000 AS bucket, COUNT(*) AS n
        |FROM events GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin)),

    // Funnel analysis (view → click → purchase, first occurrence each):
    // the product-analytics staple over the event stream. One shuffle
    // (user groupBy with conditional-min map-side combine), then a
    // driver-sized reduction. Timestamps are int64 nanos end to end, so
    // stage membership is exact on both engines.
    QueryDef("q75_funnel",
      (s, d) => {
        val ev = Tables.events(s, d)
        ev.groupBy("user_id")
          .agg(min(when(col("event_type") === "view", col("ts"))).as("v"),
            min(when(col("event_type") === "click", col("ts"))).as("c"),
            min(when(col("event_type") === "purchase", col("ts"))).as("p"))
          .agg(count(col("v")).as("stage_view"),
            count(when(col("c") > col("v"), lit(1))).as("stage_click"),
            count(when(col("c") > col("v") && col("p") > col("c"), lit(1)))
              .as("stage_purchase"))
      },
      Some("""WITH f AS (SELECT user_id,
        |  MIN(ts) FILTER (event_type = 'view') AS v,
        |  MIN(ts) FILTER (event_type = 'click') AS c,
        |  MIN(ts) FILTER (event_type = 'purchase') AS p
        |FROM events GROUP BY user_id)
        |SELECT COUNT(v) AS stage_view,
        |  COUNT(CASE WHEN c > v THEN 1 END) AS stage_click,
        |  COUNT(CASE WHEN c > v AND p > c THEN 1 END) AS stage_purchase
        |FROM f""".stripMargin)),

    // Outlier detection WITHOUT a single float op: per event_type, count
    // rows with |x − μ| > 2σ by clearing denominators —
    //   (x − μ)² > 4σ²  ⟺  (n·x − s)² > 4·(n·s2 − s²)
    // over milli-scaled integer values, the wide products in decimal(38)
    // (HUGEINT on the oracle side). Exact integers at every step means
    // the flag is bit-portable — a float mean/stddev pipeline could
    // never hash-match across engines. Shape: one stats agg (map-side
    // combine) broadcast back over one corpus scan.
    QueryDef("q76_value_outliers",
      (s, d) => {
        val m = Tables.events(s, d).select(col("event_type"),
          floor(col("value") * 1000).cast("long").as("v_m"))
        val st = m.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(col("v_m")).as("s"), sum(col("v_m") * col("v_m")).as("s2"))
        val dec = "decimal(38,0)"
        // operands cast BEFORE the product: n * v_m in Long silently wraps
        // in non-ANSI Spark at large group counts while DuckDB raises
        val dev = col("n").cast(dec) * col("v_m").cast(dec) - col("s").cast(dec)
        val varNum = (col("n").cast(dec) * col("s2").cast(dec) -
          col("s").cast(dec) * col("s").cast(dec)) * lit(4).cast(dec)
        m.join(broadcast(st), "event_type")
          .groupBy("event_type")
          .agg(first(col("n")).as("n"),
            count(when(dev * dev > varNum, lit(1))).as("n_outliers"))
          .orderBy("event_type")
      },
      Some("""WITH m AS (SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS v_m FROM events),
        |st AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(v_m) AS BIGINT) AS s,
        |  CAST(SUM(v_m * v_m) AS BIGINT) AS s2 FROM m GROUP BY event_type)
        |SELECT m.event_type, MIN(st.n) AS n,
        |  COUNT(CASE WHEN (CAST(st.n AS HUGEINT) * m.v_m - st.s) * (CAST(st.n AS HUGEINT) * m.v_m - st.s)
        |    > 4 * (CAST(st.n AS HUGEINT) * st.s2 - CAST(st.s AS HUGEINT) * st.s) THEN 1 END) AS n_outliers
        |FROM m JOIN st USING (event_type)
        |GROUP BY m.event_type ORDER BY m.event_type""".stripMargin)),

    // Robust outliers by median/MAD (Profile.madOutliers): the detector
    // a few extreme values cannot drag, unlike q76's mean/σ (breakdown
    // 50% vs 0%). Lower medians are actual data values — no interpolated
    // floats — deviations and the 3·MAD cut are Long comparisons, so
    // every stat hash-matches. Two ranked passes + one counting join,
    // each one shuffle on event_type.
    QueryDef("q100_mad_outliers",
      (s, d) => graft.operators.Profile.madOutliers(
          Tables.events(s, d).select(col("event_type"),
            floor(col("value") * 1000).cast("long").as("v_m")),
          "event_type", "v_m", k = 3)
        .orderBy("event_type"),
      Some("""WITH m AS (SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |r AS (SELECT event_type, v, row_number() OVER (PARTITION BY event_type ORDER BY v ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM m),
        |med AS (SELECT event_type, v AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (SELECT m.event_type, med.med, abs(m.v - med.med) AS dv FROM m JOIN med USING (event_type)),
        |r2 AS (SELECT event_type, med, dv, row_number() OVER (PARTITION BY event_type ORDER BY dv ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM d),
        |mad AS (SELECT event_type, med, dv AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT m.event_type, MIN(mad.med) AS med, MIN(mad.mad) AS mad,
        |  COUNT(CASE WHEN abs(m.v - mad.med) > 3 * mad.mad THEN 1 END) AS n_out
        |FROM m JOIN mad USING (event_type)
        |GROUP BY m.event_type ORDER BY m.event_type""".stripMargin)),

    // Incremental view maintenance: the per-event-type stats view
    // refreshed by MERGING partial states — state(base) ⊕ state(delta)
    // with base = pre-cutoff events and delta = the rest — instead of
    // rescanning. Count/sum/min/max are Long monoids, so the merged
    // view is bit-identical to the full recompute the oracle runs; at
    // 100 TB the refresh reads O(delta + groups), never the corpus
    // (Ivm.refreshAggView is the persisted-artifact form of this plan).
    QueryDef("q95_ivm_merge",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_type"), col("ts"),
          floor(col("value") * 1000).cast("long").as("v_m"))
        val cut = 1705276800000000000L // 2024-01-15, the q14 checkpoint
        val base  = graft.operators.Ivm.aggState(
          ev.where(col("ts") <= cut), Seq("event_type"), "v_m")
        val delta = graft.operators.Ivm.aggState(
          ev.where(col("ts") > cut), Seq("event_type"), "v_m")
        graft.operators.Ivm.mergeStates(Seq(base, delta), Seq("event_type"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS s,
        |  MIN(CAST(floor(value * 1000) AS BIGINT)) AS mn,
        |  MAX(CAST(floor(value * 1000) AS BIGINT)) AS mx
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // q117's drift rational served from the INCREMENTAL view: base/delta
    // states split at the q14 cutoff each carry the (sx, sxy, sxx) trend
    // monoids, merge like every other sum, and Ivm.trendOf reads the
    // exact least-squares slope out of the merged state — the oracle
    // recomputes it from scratch over ALL rows. Hash-match proves a
    // view refreshed in O(delta) serves the same drift answer as a full
    // rescan (q95 ⊕ q117: the IVM face of exact regression).
    QueryDef("q127_ivm_trend",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_type"),
          col("ts"), expr("(ts div 3600000000000) % 24").as("x"),
          floor(col("value") * 1000).cast("long").as("v_m"))
        val cut = 1705276800000000000L
        val base = graft.operators.Ivm.aggState(
          ev.where(col("ts") <= cut), Seq("event_type"), "v_m",
          xCol = Some("x"))
        val delta = graft.operators.Ivm.aggState(
          ev.where(col("ts") > cut), Seq("event_type"), "v_m",
          xCol = Some("x"))
        graft.operators.Ivm.trendOf(
            graft.operators.Ivm.mergeStates(Seq(base, delta),
              Seq("event_type")), Seq("event_type"))
          .select(col("event_type"), col("n"),
            col("slope_num").cast("long").as("slope_num"),
            col("slope_den").cast("long").as("slope_den"))
          .orderBy("event_type")
      },
      Some("""WITH m AS (SELECT event_type,
        |  (epoch_us(ts) // 3600000000) % 24 AS x,
        |  CAST(floor(value * 1000) AS BIGINT) AS y FROM events),
        |st AS (SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |  CAST(SUM(x * y) AS HUGEINT) AS sxy, CAST(SUM(x * x) AS HUGEINT) AS sxx
        |  FROM m GROUP BY event_type)
        |SELECT event_type, n, CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
        |FROM st ORDER BY event_type""".stripMargin)),

    // Label-propagation communities (Graph.labelPropagation, 2 sync
    // rounds): mode-of-neighbors labeling over the quarter-filtered
    // part co-purchase graph — density finds communities where min-label
    // CC (q64's engine) finds connectivity. Deterministic by the
    // (count desc, label asc) tie-break; the oracle unrolls both rounds
    // in CTEs, hash-pinning the loop. Output: community-size histogram.
    QueryDef("q106_label_prop",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val pairs = li.as("x").join(li.as("y"), col("x.ok") === col("y.ok") &&
            col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("a"), col("y.pk").as("b"))
        Graph.labelPropagation(pairs, "a", "b", rounds = 2)
          .groupBy("label").agg(count(lit(1)).as("size"))
          .orderBy(col("size").desc, col("label").asc)
          .limit(20)
      },
      Some("""WITH li AS (SELECT l_orderkey ok, l_partkey pk FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-04-01'),
        |e AS (SELECT DISTINCT x.pk a, y.pk b FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |sym AS (SELECT a s, b d FROM e UNION SELECT b, a FROM e),
        |l0 AS (SELECT DISTINCT s AS id, s AS label FROM sym),
        |c1 AS (SELECT sym.d AS id, l0.label, COUNT(*) AS cnt
        |  FROM sym JOIN l0 ON sym.s = l0.id GROUP BY 1, 2),
        |l1 AS (SELECT id, label FROM (SELECT id, label,
        |    row_number() OVER (PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn
        |  FROM c1) WHERE rn = 1),
        |c2 AS (SELECT sym.d AS id, l1.label, COUNT(*) AS cnt
        |  FROM sym JOIN l1 ON sym.s = l1.id GROUP BY 1, 2),
        |l2 AS (SELECT id, label FROM (SELECT id, label,
        |    row_number() OVER (PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn
        |  FROM c2) WHERE rn = 1)
        |SELECT label, COUNT(*) AS size FROM l2 GROUP BY label
        |ORDER BY size DESC, label ASC LIMIT 20""".stripMargin)),

    // Cohort retention: users bucketed by first-activity week, then the
    // (cohort, week-offset) activity matrix — the product-analytics
    // staple. Two hash-aggs + one broadcast-able join, integer week
    // arithmetic end to end; rows are already distinct per (user, week)
    // so the matrix cell is a plain count.
    QueryDef("q105_cohort_retention",
      (s, d) => {
        val wk = Tables.events(s, d)
          .select(col("user_id"), expr("ts div 604800000000000").as("week"))
          .distinct()
        val cohort = wk.groupBy("user_id").agg(min(col("week")).as("cohort"))
        wk.join(cohort, "user_id")
          .groupBy(col("cohort"), (col("week") - col("cohort")).as("wk_offset"))
          .agg(count(lit(1)).as("n_active"))
          .orderBy("cohort", "wk_offset")
      },
      Some("""WITH wk AS (SELECT DISTINCT user_id,
        |    CAST(epoch_us(ts) AS BIGINT) // 604800000000 AS week FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort FROM wk GROUP BY user_id)
        |SELECT c.cohort, wk.week - c.cohort AS wk_offset, COUNT(*) AS n_active
        |FROM wk JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, wk_offset""".stripMargin)),

    // Bounded k-core peeling over the full part co-purchase graph
    // (Graph.kCore, 2 peel rounds at k=80): the community-density
    // filter, with the cascade visible — a neighbor peeled in round 1
    // lowers your degree for round 2. The oracle unrolls both rounds in
    // CTEs (the q88 trick on a graph loop), so the distributed peel is
    // hash-pinned, not just rows-counted. Each round = one degree
    // hash-agg + two semi-joins, frontier materialized (O(1) plan).
    QueryDef("q104_kcore_peel",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val pairs = li.as("x").join(li.as("y"), col("x.ok") === col("y.ok") &&
            col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("a"), col("y.pk").as("b"))
        Graph.kCore(pairs, "a", "b", k = 80, maxRounds = 2)
          .orderBy(col("deg").desc, col("id").asc)
          .limit(20)
      },
      Some("""WITH li AS (SELECT l_orderkey ok, l_partkey pk FROM lineitem),
        |e AS (SELECT DISTINCT x.pk a, y.pk b FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |s0 AS (SELECT a s, b d FROM e UNION ALL SELECT b, a FROM e),
        |d0 AS (SELECT s, COUNT(*) deg FROM s0 GROUP BY s),
        |k0 AS (SELECT s FROM d0 WHERE deg >= 80),
        |s1 AS (SELECT e.s, e.d FROM s0 e JOIN k0 x ON e.s = x.s JOIN k0 y ON e.d = y.s),
        |d1 AS (SELECT s, COUNT(*) deg FROM s1 GROUP BY s),
        |k1 AS (SELECT s FROM d1 WHERE deg >= 80),
        |s2 AS (SELECT e.s, e.d FROM s1 e JOIN k1 x ON e.s = x.s JOIN k1 y ON e.d = y.s),
        |d2 AS (SELECT s AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM s2 GROUP BY s)
        |SELECT id, deg FROM d2 ORDER BY deg DESC, id ASC LIMIT 20""".stripMargin)),

    // Semi-structured extraction (F8 on the real fixture column): the
    // events `props` JSON string parsed in the row path
    // (get_json_object — codegen'd Jackson walk, no UDF) and aggregated
    // as exact integers. At 100 TB this is THE schema-on-read pattern:
    // the parse cost rides the scan once, the shuffle carries 4-row
    // partial aggs.
    QueryDef("q103_props_extract",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Gaps-and-islands: per user, runs of CONSECUTIVE active days via
    // the rn-difference trick (day − row_number is constant within an
    // island) — batch sessionization at day granularity, one window
    // pass + two hash-aggs, all integer day arithmetic. The analytic
    // twin of q29's session_window.
    QueryDef("q101_gaps_islands",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("day").asc)
        Tables.events(s, d)
          .select(col("user_id"), expr("ts div 86400000000000").as("day"))
          .distinct()
          .withColumn("grp", col("day") - row_number().over(w))
          .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_islands"), max(col("len")).as("longest"))
          .orderBy("user_id")
      },
      Some("""WITH d AS (SELECT DISTINCT user_id,
        |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day FROM events),
        |r AS (SELECT user_id, day,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day ASC) AS rn FROM d),
        |i AS (SELECT user_id, day - rn AS grp, COUNT(*) AS len FROM r GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_islands, CAST(MAX(len) AS BIGINT) AS longest
        |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Sequential pattern mining, order-1: the top event-type transitions
    // (lag over each user's (ts, event_id)-ordered stream, then one
    // hash-agg) — the Markov-transition profile of the event log. The
    // tie-broken total order makes `prev` deterministic, so transition
    // counts hash-match.
    QueryDef("q102_event_bigrams",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .where(col("prev").isNotNull)
          .groupBy(col("prev").as("a"), col("event_type").as("b"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("a").asc, col("b").asc)
          .limit(10)
      },
      Some("""WITH s AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
        |  FROM events)
        |SELECT prev AS a, event_type AS b, COUNT(*) AS n FROM s
        |WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY n DESC, a ASC, b ASC LIMIT 10""".stripMargin)),

    // Triangle counting over the part co-purchase graph (parts sharing an
    // order; one quarter of shipdates keeps the sf-scaled edge density
    // constant). The engine orients edges by (degree, id) rank so the
    // wedge join is bounded by each edge's LOWER degree — the
    // O(m^{3/2}) Suri-Vassilvitskii shape that survives hub nodes at
    // 100 TB. The oracle counts the same triangles by id-ordered 3-way
    // self-join (a<b<c) — orientation-invariant, so counts hash-match.
    QueryDef("q93_triangle_counts",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val pairs = li.as("x").join(li.as("y"), col("x.ok") === col("y.ok") &&
            col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("a"), col("y.pk").as("b"))
        Graph.triangleCounts(pairs, "a", "b")
          .orderBy(col("triangles").desc, col("id").asc)
          .limit(20)
      },
      Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-04-01'),
        |e AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (SELECT x AS id FROM tri
        |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT id, COUNT(*) AS triangles FROM corners GROUP BY id
        |ORDER BY triangles DESC, id ASC LIMIT 20""".stripMargin)),

    // IVM with a SKETCH column riding the merge: the per-lang documents
    // view carries count/sum/min/max of n_chars AND the q90 HLL register
    // array over DISTINCT text — refreshed through the PERSISTED
    // artifact lifecycle (buildAggView on the even-doc base,
    // refreshAggView with the odd-doc delta; the base corpus is never
    // re-read at refresh). Registers are a max semilattice, so the
    // merged view is bit-identical to a full recompute — the oracle
    // computes exactly that full recompute, and the hash-match proves
    // the distinct-count sketch refreshes incrementally with the same
    // exactness contract as the scalar monoids (q95's property, extended
    // to the one statistic scalars can't express). Output: the dense
    // register array exploded back to q90's sparse (b, reg > 0) rows
    // alongside the scalar state.
    QueryDef("q108_ivm_hll",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("graft-q108-").toString
        val docs = Tables.documents(s, d)
        graft.operators.Ivm.buildAggView(docs.where(col("doc_id") % 2 === 0),
          Seq("lang"), "n_chars", dir, hllCol = Some("text"), p = 8)
        graft.operators.Ivm.refreshAggView(docs.where(col("doc_id") % 2 =!= 0),
          Seq("lang"), "n_chars", dir, hllCol = Some("text"), p = 8)
        graft.operators.Ivm.readAggView(s, dir)
          .select(col("lang"), col("n"), col("s"), col("mn"), col("mx"),
            posexplode(col("hll")).as(Seq("b", "reg")))
          .where(col("reg") > 0)
          .select(col("lang"), col("n"), col("s"), col("mn"), col("mx"),
            col("b").cast("long").as("b"), col("reg"))
          .orderBy("lang", "b")
      },
      Some("""WITH h AS (SELECT DISTINCT lang,
        |        CAST('0x'||substr(md5('hll:'||text),18,15) AS BIGINT) AS h
        |      FROM documents),
        |regs AS (SELECT lang, h % 256 AS b,
        |    CAST(MAX(CASE WHEN h // 256 = 0 THEN 53
        |                  ELSE 52 - length(bin(h // 256)) + 1 END) AS BIGINT) AS reg
        |  FROM h GROUP BY 1, 2),
        |sc AS (SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS s,
        |    MIN(n_chars) AS mn, MAX(n_chars) AS mx
        |  FROM documents GROUP BY lang)
        |SELECT sc.lang AS lang, n, s, mn, mx, regs.b, regs.reg
        |FROM sc JOIN regs ON sc.lang = regs.lang
        |ORDER BY sc.lang, regs.b""".stripMargin)),

    // Exact-integer regression trend (Profile.trendExact): per event
    // type, the least-squares slope of milli-scaled value vs hour-of-day
    // as an exact rational — numerator n·Σxy − Σx·Σy, denominator
    // n·Σx² − (Σx)², decimal(38,0) internally (q76's cleared-denominator
    // discipline applied to regression; the numerator's sign IS the
    // drift direction, no float anywhere). One map-side-combinable
    // hash-agg over five Long sums. Outputs cast to BIGINT for the
    // compare (they fit at every test SF; the operator itself carries
    // decimal38 so nothing wraps at cluster scale).
    QueryDef("q117_value_trend",
      (s, d) => {
        val m = Tables.events(s, d).select(col("event_type"),
          expr("(ts div 3600000000000) % 24").as("x"),
          floor(col("value") * 1000).cast("long").as("y"))
        graft.operators.Profile.trendExact(m, "event_type", "x", "y")
          .select(col("event_type"), col("n"),
            col("slope_num").cast("long").as("slope_num"),
            col("slope_den").cast("long").as("slope_den"))
          .orderBy("event_type")
      },
      Some("""WITH m AS (SELECT event_type,
        |  (epoch_us(ts) // 3600000000) % 24 AS x,
        |  CAST(floor(value * 1000) AS BIGINT) AS y FROM events),
        |st AS (SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |  CAST(SUM(x * y) AS HUGEINT) AS sxy, CAST(SUM(x * x) AS HUGEINT) AS sxx
        |  FROM m GROUP BY event_type)
        |SELECT event_type, n, CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
        |FROM st ORDER BY event_type""".stripMargin)),

    // KMV/Theta sketch set-intersection (Sketch.kmvSample/kmvIntersect):
    // "how many distinct users are in BOTH event types" from bounded
    // ≤ k-row-per-group state — the set operation linear counting and
    // HLL structurally cannot answer. Report = estimate vs exact truth
    // per type pair (the q71 est-vs-true audit shape); the md5 bottom-k
    // sample is deterministic, so sketch state AND estimate hash-match.
    QueryDef("q123_kmv_intersect",
      (s, d) => {
        val ev = Tables.events(s, d)
        val est = Sketch.kmvIntersect(
          Sketch.kmvSample(ev, "event_type", "user_id", k = 64), "event_type")
        val u = ev.select(col("event_type"), col("user_id")).distinct()
        val truth = u.as("a").join(u.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("ga"), col("b.event_type").as("gb"))
          .agg(count(lit(1)).as("true_inter"))
        est.join(truth, Seq("ga", "gb"), "left")
          .select(col("ga"), col("gb"), col("theta"), col("n_common"),
            col("est_inter"),
            coalesce(col("true_inter"), lit(0L)).as("true_inter"))
          .orderBy("ga", "gb")
      },
      Some("""WITH h AS (SELECT DISTINCT event_type,
        |  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 25, 8) AS BIGINT) AS h FROM events),
        |s AS (SELECT event_type, h FROM (
        |    SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS pos FROM h)
        |  WHERE pos <= 64),
        |kth AS (SELECT event_type, MAX(h) AS kth FROM s GROUP BY event_type),
        |p AS (SELECT x.event_type AS ga, y.event_type AS gb, least(x.kth, y.kth) AS theta
        |  FROM kth x JOIN kth y ON x.event_type < y.event_type),
        |c AS (SELECT sa.event_type AS ga, sb.event_type AS gb, sa.h AS h
        |  FROM s sa JOIN s sb ON sa.h = sb.h AND sa.event_type < sb.event_type),
        |nc AS (SELECT p.ga, p.gb, p.theta,
        |    COUNT(CASE WHEN c.h < p.theta THEN 1 END) AS n_common
        |  FROM p LEFT JOIN c ON c.ga = p.ga AND c.gb = p.gb GROUP BY 1, 2, 3),
        |u AS (SELECT DISTINCT event_type, user_id FROM events),
        |tr AS (SELECT a.event_type AS ga, b.event_type AS gb, COUNT(*) AS true_inter
        |  FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT nc.ga, nc.gb, nc.theta, nc.n_common,
        |  CAST(nc.n_common AS DOUBLE) * 4294967296.0 / CAST(nc.theta AS DOUBLE) AS est_inter,
        |  COALESCE(tr.true_inter, 0) AS true_inter
        |FROM nc LEFT JOIN tr ON tr.ga = nc.ga AND tr.gb = nc.gb
        |ORDER BY nc.ga, nc.gb""".stripMargin))
  )
}
