package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions._
import graft.operators.{C4, Decontaminate, Dedup, Graph, Knn, Pq, Rank, SimilaritySearch, Web}

/** Training-data-pipeline operators as oracle-checked queries (q17–q26):
  * near-dup detection (MinHash+LSH, SimHash, n-gram Jaccard, embedding
  * cosine), text analysis (language-ID, quality, token stats, rolling-hash
  * fingerprint), and approximate similarity search (IVF, RP-LSH).
  *
  * Every hash is md5-derived so the DuckDB oracle reproduces it exactly
  * (see TextFunctions); every float path folds in index order in Double.
  */
object PipelineQueries {

  /** Shared DuckDB fragments, kept in lockstep with TextFunctions. */
  private def duckShinglesOf(c: String) =
    s"list_distinct(list_transform(range(0, greatest(length($c)-4, 1)), i -> substr($c, CAST(i+1 AS INT), 5)))"
  private val duckShingles = duckShinglesOf("text")
  private val duckToks = "regexp_split_to_array(trim(text), '\\s+')"
  private def duckMarker(words: Seq[String]) =
    s"CAST(length(list_filter(toks, x -> list_contains([${words.map(w => s"'$w'").mkString(",")}], x))) AS INT)"
  private val duckDotZip =
    "list_sum(list_transform(list_zip(%s, %s), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"
  private val duckL2Zip =
    "list_sum(list_transform(list_zip(%s, %s), x -> (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))*(CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))))"

  /** BM25 CTE chain (ends in `sc(doc_id, dl, score, n_hit)`), mirroring
    * Rank.bm25 term by term: Lucene idf, k1=1.2, b=0.75, terms
    * merge/query/vector, per-doc contributions summed in term order.
    * Literals are CAST AS DOUBLE and composed (1.2+1, never 2.2) so every
    * IEEE operation matches the Spark plan's `lit` arithmetic.
    */
  private val duckBm25 =
    """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |dln AS (SELECT doc_id, toks, CAST(length(toks) AS BIGINT) AS dl FROM tok),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dln),
      |tf AS (SELECT doc_id, dl, tok, CAST(length(list_filter(toks, x -> x = tok)) AS BIGINT) AS tf
      |  FROM dln CROSS JOIN (SELECT UNNEST(['merge','query','vector']) AS tok) qt
      |  WHERE list_contains(toks, tok)),
      |dfr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
      |ctb AS (SELECT tf.doc_id, tf.dl, tf.tok,
      |  ln(CAST(1.0 AS DOUBLE) + (CAST(st.n_docs AS DOUBLE) - CAST(dfr.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(dfr.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |  * (CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
      |  / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(tf.dl AS DOUBLE) / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))) AS s
      |  FROM tf JOIN dfr ON dfr.tok = tf.tok, st),
      |sc AS (SELECT doc_id, dl, list_sum(list_transform(list(s ORDER BY tok), x -> x)) AS score,
      |  CAST(COUNT(*) AS BIGINT) AS n_hit FROM ctb GROUP BY doc_id, dl)""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // MinHash+LSH near-dup: shingle(5) → 16 minhashes → 4 bands → bucket
    // join → exact Jaccard on candidates; 10 closest candidate pairs.
    QueryDef("q17_minhash_lsh_dedup",
      // OWNED cache lifetime: the scoped form frees the signature cache
      // and candidate blocks when the block ends, so the result must not
      // read them lazily. It is collected inside the block (at most 10
      // rows, the limit) and escapes as a driver-side local relation: no
      // block outlives the query.
      (s, d) => Dedup.withMinhashPairs(Tables.documents(s, d), "doc_id",
          "text") { pairs =>
        val top = pairs.orderBy(col("jac").desc, col("a").asc, col("b").asc)
          .limit(10)
        s.createDataFrame(java.util.Arrays.asList(top.collect(): _*), top.schema)
      },
      Some(s"""WITH sh AS (SELECT doc_id, $duckShingles AS shingles FROM documents),
        |hv AS (SELECT doc_id, shingles, list_transform(shingles, s -> CAST('0x'||substr(md5(s),25,8) AS BIGINT)) AS hs FROM sh),
        |sig AS (SELECT doc_id, list_transform(range(0,16), k -> list_min(list_transform(hs, x -> (x*(2*k+1) + (1000000007*k+17)) % 4294967311))) AS sg FROM hv),
        |bands AS (SELECT doc_id, j AS band_idx,
        |  CAST(sg[4*CAST(j AS INT)+1] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+2] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+3] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+4] AS VARCHAR) AS band_key
        |  FROM sig, range(0,4) t(j)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
        |  ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |pairs AS (SELECT c.a, c.b,
        |  CAST(length(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |    (length(sa.shingles) + length(sb.shingles) - length(list_intersect(sa.shingles, sb.shingles))) AS jac
        |  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b)
        |SELECT a, b, jac FROM pairs ORDER BY jac DESC, a ASC, b ASC LIMIT 10""".stripMargin)),

    // INCREMENTAL minhash dedup: the "new batch" (doc_id % 7 = 3) checked
    // against the existing corpus (the rest) — only cross pairs, the
    // continuous-ingest admission test. Same signature/band machinery as
    // q17, asymmetric join (new bands broadcast against the corpus).
    QueryDef("q61_incremental_minhash",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.minhashPairsAgainst(
            docs.where(col("doc_id") % 7 === 3),
            docs.where(col("doc_id") % 7 =!= 3), "doc_id", "text")
          .orderBy(col("jac").desc, col("a").asc, col("b").asc)
          .limit(10)
      },
      Some(s"""WITH sh AS (SELECT doc_id, $duckShingles AS shingles FROM documents),
        |hv AS (SELECT doc_id, shingles, list_transform(shingles, s -> CAST('0x'||substr(md5(s),25,8) AS BIGINT)) AS hs FROM sh),
        |sig AS (SELECT doc_id, list_transform(range(0,16), k -> list_min(list_transform(hs, x -> (x*(2*k+1) + (1000000007*k+17)) % 4294967311))) AS sg FROM hv),
        |bands AS (SELECT doc_id, j AS band_idx,
        |  CAST(sg[4*CAST(j AS INT)+1] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+2] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+3] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+4] AS VARCHAR) AS band_key
        |  FROM sig, range(0,4) t(j)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
        |  ON x.band_idx = y.band_idx AND x.band_key = y.band_key
        |  WHERE x.doc_id % 7 = 3 AND y.doc_id % 7 != 3),
        |pairs AS (SELECT c.a, c.b,
        |  CAST(length(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |    (length(sa.shingles) + length(sb.shingles) - length(list_intersect(sa.shingles, sb.shingles))) AS jac
        |  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b)
        |SELECT a, b, jac FROM pairs ORDER BY jac DESC, a ASC, b ASC LIMIT 10""".stripMargin)),

    // Dedup CLUSTER formation: minhash near-dup pairs (q17's machinery,
    // jac >= 0.5) closed under transitivity — connected components by
    // min-label propagation, one summary row per duplicate group. The
    // oracle computes the same closure with a recursive CTE; hash-match
    // proves the distributed iteration reaches the exact fixpoint.
    QueryDef("q64_dedup_clusters",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.withMinhashPairs(docs, "doc_id", "text") { pairs =>
          Graph.dedupClusters(pairs.where(col("jac") >= 0.5), "a", "b")
        }.orderBy(col("component").asc)
      },
      Some(s"""WITH RECURSIVE sh AS (SELECT doc_id, $duckShingles AS shingles FROM documents),
        |hv AS (SELECT doc_id, shingles, list_transform(shingles, s -> CAST('0x'||substr(md5(s),25,8) AS BIGINT)) AS hs FROM sh),
        |sig AS (SELECT doc_id, list_transform(range(0,16), k -> list_min(list_transform(hs, x -> (x*(2*k+1) + (1000000007*k+17)) % 4294967311))) AS sg FROM hv),
        |bands AS (SELECT doc_id, j AS band_idx,
        |  CAST(sg[4*CAST(j AS INT)+1] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+2] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+3] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+4] AS VARCHAR) AS band_key
        |  FROM sig, range(0,4) t(j)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
        |  ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |pairs AS (SELECT c.a, c.b,
        |  CAST(length(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |    (length(sa.shingles) + length(sb.shingles) - length(list_intersect(sa.shingles, sb.shingles))) AS jac
        |  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b),
        |pr AS (SELECT a, b FROM pairs WHERE jac >= 0.5),
        |e AS (SELECT a, b FROM pr UNION SELECT b AS a, a AS b FROM pr),
        |reach(id, r) AS (
        |  SELECT a AS id, a AS r FROM e
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b),
        |cc AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
        |SELECT component, COUNT(*) AS n_members, MAX(id) AS max_id
        |FROM cc GROUP BY component ORDER BY component ASC""".stripMargin)),

    // Cross-source duplication report — the pipeline question behind
    // dedup: WHICH corpus pair is leaking into which ("how much of
    // source X re-appears in source Y")? Same minhash band-join pair
    // generation as q64 (never n²), then each near-dup pair maps to its
    // unordered (source, source) cell via two doc_id lookups and one
    // hash-agg. At 100 TB the pair list is candidate-bounded and the
    // report is |sources|² cells at most — tiny, whatever the corpus.
    QueryDef("q92_cross_source_overlap",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val src = docs.select(col("doc_id"), col("source"))
        Dedup.withMinhashPairs(docs, "doc_id", "text") { pairs =>
          // materialize INSIDE the owned-cache block (the q162 pattern):
          // the scoped form frees the signature cache and the candidate
          // materialization in finally, so a lazily escaping frame would
          // re-run the whole minhash pipeline cache-cold (and, since the
          // r15 candidate checkpoint, fail loud instead)
          pairs.where(col("jac") >= 0.5)
            .join(src.select(col("doc_id").as("a"), col("source").as("sa")),
              Seq("a"))
            .join(src.select(col("doc_id").as("b"), col("source").as("sb")),
              Seq("b"))
            .groupBy(least(col("sa"), col("sb")).as("source_a"),
              greatest(col("sa"), col("sb")).as("source_b"))
            .agg(count(lit(1)).as("n_pairs"))
            .localCheckpoint(true)
        }.orderBy("source_a", "source_b")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $duckShingles AS shingles FROM documents),
        |hv AS (SELECT doc_id, shingles, list_transform(shingles, s -> CAST('0x'||substr(md5(s),25,8) AS BIGINT)) AS hs FROM sh),
        |sig AS (SELECT doc_id, list_transform(range(0,16), k -> list_min(list_transform(hs, x -> (x*(2*k+1) + (1000000007*k+17)) % 4294967311))) AS sg FROM hv),
        |bands AS (SELECT doc_id, j AS band_idx,
        |  CAST(sg[4*CAST(j AS INT)+1] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+2] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+3] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+4] AS VARCHAR) AS band_key
        |  FROM sig, range(0,4) t(j)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
        |  ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |pairs AS (SELECT c.a, c.b,
        |  CAST(length(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |    (length(sa.shingles) + length(sb.shingles) - length(list_intersect(sa.shingles, sb.shingles))) AS jac
        |  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b),
        |pr AS (SELECT a, b FROM pairs WHERE jac >= 0.5)
        |SELECT least(da.source, db.source) AS source_a,
        |  greatest(da.source, db.source) AS source_b,
        |  COUNT(*) AS n_pairs
        |FROM pr JOIN documents da ON da.doc_id = pr.a
        |  JOIN documents db ON db.doc_id = pr.b
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Lexical relevance: BM25 (Lucene idf, k1=1.2, b=0.75) of a 3-term
    // keyword query over documents — the keyword half of hybrid search.
    // Scores hash-match because per-doc contributions fold in sorted term
    // order on both engines (the q16 float discipline applied to ranking).
    QueryDef("q65_bm25",
      (s, d) => Rank.bm25(Tables.documents(s, d), "doc_id", "text",
          Seq("merge", "query", "vector"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(10),
      Some(s"""$duckBm25
        |SELECT doc_id, score, n_hit, dl AS doc_len FROM sc
        |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin)),

    // HYBRID search: reciprocal-rank fusion of the BM25 top-20 (q65's
    // lexical leg) with the exact-KNN top-20 (q02's vector leg), joined
    // full-outer on id — rrf = 1/(60+r_lex) + 1/(60+r_vec), absent legs
    // contributing exactly 0. The composition the reference's
    // vector-only search is missing; integer ranks make the fused score
    // bit-portable.
    QueryDef("q66_hybrid_rrf",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.where(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toArray
        val lex = Rank.ranked(
          Rank.bm25(Tables.documents(s, d), "doc_id", "text",
              Seq("merge", "query", "vector"))
            .orderBy(col("score").desc, col("doc_id").asc).limit(20),
          "doc_id", col("score").desc)
        val vec = Rank.ranked(
          Knn.search(emb, "vec_id", "embedding", q, k = 20)
            .withColumnRenamed("vec_id", "doc_id"),
          "doc_id", col("score").asc)
        Rank.rrf(Seq(lex, vec), "doc_id", "rank")
          .orderBy(col("rrf_score").desc, col("doc_id").asc)
          .limit(10)
      },
      Some(s"""$duckBm25,
        |lexall AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r FROM sc),
        |lex AS (SELECT doc_id, r FROM lexall WHERE r <= 20),
        |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |vs AS (SELECT e.vec_id, ${duckL2Zip.format("e.embedding", "qv.qe")} AS score FROM embeddings e, qv),
        |vrall AS (SELECT vec_id, row_number() OVER (ORDER BY score ASC, vec_id ASC) AS r FROM vs),
        |vr AS (SELECT vec_id, r FROM vrall WHERE r <= 20)
        |SELECT COALESCE(lex.doc_id, vr.vec_id) AS doc_id,
        |  COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(lex.r AS DOUBLE)), CAST(0.0 AS DOUBLE))
        |    + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(vr.r AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS rrf_score,
        |  lex.r AS rank_0, vr.r AS rank_1
        |FROM lex FULL OUTER JOIN vr ON lex.doc_id = vr.vec_id
        |ORDER BY rrf_score DESC, doc_id ASC LIMIT 10""".stripMargin)),

    // SimHash near-dup: 60-bit simhash of token md5s; 10 pairs with the
    // smallest hamming distance.
    QueryDef("q18_simhash_dedup",
      (s, d) => Dedup.simhashPairs(Tables.documentsPar(s, d), "doc_id", "text",
          maxHamming = 60)
        .orderBy(col("ham").asc, col("a").asc, col("b").asc)
        .limit(10),
      Some(s"""WITH hv AS (SELECT doc_id, list_transform($duckToks, t -> CAST('0x'||substr(md5(t),18,15) AS BIGINT)) AS hv FROM documents),
        |sh AS (SELECT doc_id, CAST(list_sum(list_transform(range(0,60), j ->
        |  CASE WHEN CAST(list_sum(list_transform(hv, h -> CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0
        |  THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END)) AS BIGINT) AS sh FROM hv)
        |SELECT x.doc_id AS a, y.doc_id AS b, CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS ham
        |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        |ORDER BY ham ASC, a ASC, b ASC LIMIT 10""".stripMargin)),

    // SimHash near-dup, SCALE path: pigeonhole bit-chunk bucketing (5
    // disjoint 12-bit chunks for d=4; equi-join on chunk, exact hamming
    // re-check). Lossless vs the quadratic form, so the oracle is the
    // simple all-pairs SQL — passing proves the bucketed path finds EVERY
    // pair the cross product does, without ever building the cross product.
    QueryDef("q33_simhash_bucketed",
      (s, d) => Dedup.simhashPairsBucketed(Tables.documents(s, d), "doc_id", "text",
          maxHamming = 4)
        .orderBy(col("ham").asc, col("a").asc, col("b").asc),
      Some(s"""WITH hv AS (SELECT doc_id, list_transform($duckToks, t -> CAST('0x'||substr(md5(t),18,15) AS BIGINT)) AS hv FROM documents),
        |sh AS (SELECT doc_id, CAST(list_sum(list_transform(range(0,60), j ->
        |  CASE WHEN CAST(list_sum(list_transform(hv, h -> CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0
        |  THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END)) AS BIGINT) AS sh FROM hv)
        |SELECT x.doc_id AS a, y.doc_id AS b, CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS ham
        |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.sh, y.sh)) <= 4
        |ORDER BY ham ASC, a ASC, b ASC""".stripMargin)),

    // Word-3-gram Jaccard similarity join (exact quadratic baseline for the
    // LSH path above); 10 most-similar pairs.
    QueryDef("q19_ngram_jaccard",
      (s, d) => Dedup.ngramJaccardPairs(Tables.documentsPar(s, d), "doc_id", "text", n = 3)
        .orderBy(col("jac").desc, col("a").asc, col("b").asc)
        .limit(10),
      Some("""WITH g AS (SELECT doc_id, list_distinct(list_transform(
        |  range(0, greatest(length(regexp_split_to_array(trim(text), '\s+'))-2, 1)),
        |  i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), CAST(i+1 AS INT), CAST(i+3 AS INT)), ' '))) AS grams
        |  FROM documents)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |  CAST(length(list_intersect(x.grams, y.grams)) AS DOUBLE) /
        |    (length(x.grams) + length(y.grams) - length(list_intersect(x.grams, y.grams))) AS jac
        |FROM g x JOIN g y ON x.doc_id < y.doc_id
        |ORDER BY jac DESC, a ASC, b ASC LIMIT 10""".stripMargin)),

    // n-gram Jaccard with the maxDocFreq stop-gram cap ACTIVE (df<=4 drops
    // the ~150 hottest grams at sf0.01) — proves the capped index computes
    // exactly the declared semantics: DuckDB mirrors the cap, outputs
    // hash-match. The cap is the 100-TB posting-list bound (SCALE.md).
    QueryDef("q36_ngram_jaccard_capped",
      (s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, maxDocFreq = Some(4))
        .orderBy(col("jac").desc, col("a").asc, col("b").asc)
        .limit(10),
      Some("""WITH g AS (SELECT doc_id, list_distinct(list_transform(
        |  range(0, greatest(length(regexp_split_to_array(trim(text), '\s+'))-2, 1)),
        |  i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), CAST(i+1 AS INT), CAST(i+3 AS INT)), ' '))) AS grams
        |  FROM documents),
        |e AS (SELECT doc_id, CAST(length(grams) AS INT) AS sz, unnest(grams) AS gram FROM g),
        |capped AS (SELECT doc_id, sz, gram FROM e QUALIFY count(*) OVER (PARTITION BY gram) <= 4),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.sz AS sa, y.sz AS sb, count(*) AS inter
        |      FROM capped x JOIN capped y ON x.gram = y.gram AND x.doc_id < y.doc_id
        |      GROUP BY 1, 2, 3, 4)
        |SELECT a, b, CAST(inter AS DOUBLE)/(sa+sb-inter) AS jac FROM p
        |ORDER BY jac DESC, a ASC, b ASC LIMIT 10""".stripMargin)),

    // Embedding near-dup: each row's single most-similar other row by
    // cosine; first 30 ids (bounded deterministic output).
    QueryDef("q20_embedding_neardup",
      (s, d) => Dedup.nearestNeighborPerRow(Tables.embeddings(s, d), "vec_id", "embedding")
        .where(col("vec_id") < 30)
        .orderBy(col("vec_id").asc),
      Some(s"""WITH v AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm FROM embeddings),
        |p AS (SELECT x.vec_id AS a, y.vec_id AS b,
        |  ${duckDotZip.format("x.embedding", "y.embedding")} / (x.nrm*y.nrm) AS cos_sim
        |  FROM v x JOIN v y ON x.vec_id <> y.vec_id)
        |SELECT a AS vec_id, b AS nn_id, cos_sim FROM p
        |WHERE a < 30
        |QUALIFY row_number() OVER (PARTITION BY a ORDER BY cos_sim DESC, b ASC) = 1
        |ORDER BY vec_id ASC""".stripMargin)),

    // Cosine similarity join, SCALE path for q16: pairs only within IVF
    // cells (equi-join on cell id, never the corpus cross product), exact
    // cosine re-rank inside, deterministic centroids so the oracle can
    // mirror the blocking exactly. Top-20 co-cell pairs.
    QueryDef("q37_cosine_simjoin_bucketed",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Dedup.cosinePairsInCells(emb, "vec_id", "embedding",
            emb.where(col("vec_id") < 8)
              .select(col("vec_id").as("cid"), col("embedding").as("ce")))
          .orderBy(col("cos_sim").desc, col("a").asc, col("b").asc)
          .limit(20)
      },
      Some(s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
        |asg AS (SELECT vec_id, embedding, cid,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
        |  FROM (SELECT e.vec_id, e.embedding, c.cid, ${duckL2Zip.format("e.embedding", "c.ce")} AS d FROM embeddings e, c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) = 1)
        |SELECT x.vec_id AS a, y.vec_id AS b,
        |  ${duckDotZip.format("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos_sim
        |FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
        |ORDER BY cos_sim DESC, a ASC, b ASC LIMIT 20""".stripMargin)),

    // Heuristic language-ID: marker-word counts per language, argmax with
    // fixed priority (en > de > es > fr > zh) on ties.
    QueryDef("q21_langid",
      (s, d) => {
        // project tokens once: marker lambdas re-evaluate any inline
        // expression per element, so tokenization must be materialized
        val toked = Tables.documentsPar(s, d)
          .select(col("doc_id"), wsTokens(col("text")).as("toks"))
        val counts = LangMarkers.map { case (lang, words) =>
          markerCount(col("toks"), words).as(s"c_$lang")
        }
        val df = toked.select(col("doc_id") +: counts: _*)
        val pred = when(col("c_en") >= col("c_de") && col("c_en") >= col("c_es") &&
            col("c_en") >= col("c_fr") && col("c_en") >= col("c_zh"), "en")
          .when(col("c_de") >= col("c_es") && col("c_de") >= col("c_fr") &&
            col("c_de") >= col("c_zh"), "de")
          .when(col("c_es") >= col("c_fr") && col("c_es") >= col("c_zh"), "es")
          .when(col("c_fr") >= col("c_zh"), "fr")
          .otherwise("zh")
        df.select(col("doc_id"), pred.as("pred_lang"),
            col("c_en"), col("c_de"), col("c_es"), col("c_fr"), col("c_zh"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
        |c AS (SELECT doc_id,
        |  ${duckMarker(Seq("the", "a", "is", "of", "and"))} AS c_en,
        |  ${duckMarker(Seq("der", "die", "und", "ist", "das"))} AS c_de,
        |  ${duckMarker(Seq("el", "la", "de", "los", "que"))} AS c_es,
        |  ${duckMarker(Seq("le", "les", "des", "et", "une"))} AS c_fr,
        |  ${duckMarker(Seq("的", "是", "在", "了", "和"))} AS c_zh
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
        |       WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
        |       WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
        |       WHEN c_fr >= c_zh THEN 'fr'
        |       ELSE 'zh' END AS pred_lang,
        |  c_en, c_de, c_es, c_fr, c_zh
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Quality scoring: stopword ratio, punctuation ratio, length factor.
    QueryDef("q22_quality_score",
      (s, d) => {
        val nTok  = size(col("toks"))
        val cStop = markerCount(col("toks"), LangMarkers.head._2).cast("double")
        val punct = punctRatio(col("text"))
        val quality = lit(0.5) * (cStop / nTok) +
          lit(0.3) * (lit(1.0) - punct) +
          lit(0.2) * least(nTok.cast("double") / lit(100.0), lit(1.0))
        Tables.documents(s, d)
          .select(col("doc_id"), col("text"), wsTokens(col("text")).as("toks"))
          .select(col("doc_id"), nTok.as("n_tok"), quality.as("quality"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents),
        |m AS (SELECT doc_id, CAST(length(toks) AS INT) AS n_tok,
        |  CAST(${duckMarker(Seq("the", "a", "is", "of", "and"))} AS DOUBLE) AS c_stop,
        |  CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio
        |  FROM t)
        |SELECT doc_id, n_tok,
        |  CAST(0.5 AS DOUBLE) * (c_stop / n_tok) +
        |  CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - punct_ratio) +
        |  CAST(0.2 AS DOUBLE) * least(CAST(n_tok AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) AS quality
        |FROM m ORDER BY doc_id""".stripMargin)),

    // Token counting per language: whitespace tokens + BPE-ish subwords.
    QueryDef("q23_token_stats",
      (s, d) => Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"),
          sum(size(wsTokens(col("text")))).as("ws_tokens"),
          sum(size(bpeishTokens(col("text")))).as("bpeish_tokens"))
        .orderBy("lang"),
      Some(s"""SELECT lang, COUNT(*) AS cnt,
        |CAST(SUM(length($duckToks)) AS BIGINT) AS ws_tokens,
        |CAST(SUM(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS bpeish_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Document fingerprinting: rolling polynomial hash over characters.
    QueryDef("q24_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |  list_transform(range(1, length(text)+1), i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
        |  (acc, c) -> (acc*31 + c) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // IVF ANN: 8 deterministic centroids (vec_id < 8), nprobe=1, top-5
    // within the query's cluster.
    QueryDef("q25_ann_ivf",
      (s, d) => SimilaritySearch.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        centroidPred = col("vec_id") < 8, queryId = 0L, k = 5),
      Some(s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
        |a AS (SELECT e.vec_id, e.embedding, c.cid, ${duckL2Zip.format("e.embedding", "c.ce")} AS d FROM embeddings e, c),
        |asg AS (SELECT vec_id, embedding, cid FROM a
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) = 1),
        |q AS (SELECT embedding AS qe, cid AS qcid FROM asg WHERE vec_id = 0)
        |SELECT s.vec_id, ${duckL2Zip.format("s.embedding", "q.qe")} AS score
        |FROM asg s, q WHERE s.cid = q.qcid
        |ORDER BY score ASC, s.vec_id ASC LIMIT 5""".stripMargin)),

    // IVF ANN with the FULL SearchRequest surface (vector_db.thrift:23-28):
    // metadata filter applied pre-rank (corpus = even vec_ids only),
    // threshold post-score (squared L2 <= 1.45 — binding: it cuts the
    // k=8 fetch down), nprobe=2. Deterministic centroids keep it
    // oracle-checkable.
    QueryDef("q34_ann_ivf_filtered",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        SimilaritySearch.ivfSearch(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 8).select(col("vec_id").as("cid"), col("embedding").as("ce")),
          queryId = 0L, k = 8, nprobe = 2,
          filter = Some(col("vec_id") % 2 === 0), threshold = Some(1.45))
      },
      Some(s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
        |corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
        |a AS (SELECT e.vec_id, e.embedding, c.cid, ${duckL2Zip.format("e.embedding", "c.ce")} AS d FROM corp e, c),
        |asg AS (SELECT vec_id, embedding, cid FROM a
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) = 1),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |probe AS (SELECT cid AS qcid, qe FROM (SELECT c.cid, q.qe, ${duckL2Zip.format("c.ce", "q.qe")} AS d FROM c, q ORDER BY d ASC, cid ASC LIMIT 2))
        |SELECT vec_id, score FROM (
        |  SELECT s.vec_id, ${duckL2Zip.format("s.embedding", "p.qe")} AS score
        |  FROM asg s JOIN probe p ON s.cid = p.qcid)
        |WHERE score <= CAST(1.45 AS DOUBLE)
        |ORDER BY score ASC, vec_id ASC LIMIT 8""".stripMargin)),

    // IVF ANN over KMEANS-TRAINED centroids (fixed seed) — the production
    // index-build path (recall curve in ANN_QUALITY.md). Training is
    // model-dependent, so oracle-checkability comes from an invariant
    // instead: with nprobe = numCells the probed cells cover the whole
    // corpus (cells PARTITION it), so the output is the exact top-5 no
    // matter where training put the centroids — the oracle is plain exact
    // KNN. The full train→assign→probe→re-rank machinery still executes
    // (and the hash-match proves cell assignment lost no rows); the
    // nprobe<K recall trade-off is measured in ANN_QUALITY.md.
    QueryDef("q35_ann_ivf_trained",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val centroids = SimilaritySearch.trainCentroids(emb, "embedding", k = 8)
        SimilaritySearch.ivfSearch(emb, "vec_id", "embedding", centroids,
          queryId = 0L, k = 5, nprobe = 8)
      },
      Some(s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, ${duckL2Zip.format("e.embedding", "q.qe")} AS score
        |FROM embeddings e, q
        |ORDER BY score ASC, vec_id ASC LIMIT 5""".stripMargin)),

    // RP-LSH ANN: 6 hyperplanes (vec_id 1..6 as planes), bucket by sign
    // bits, exact re-rank within the query's bucket, top-5.
    QueryDef("q26_ann_lsh_rp",
      (s, d) => SimilaritySearch.rpLshTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        planePred = col("vec_id").between(1, 6), queryId = 0L, k = 5),
      Some(s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings WHERE vec_id BETWEEN 1 AND 6),
        |bk AS (SELECT e.vec_id, e.embedding, CAST(SUM(CASE WHEN ${duckDotZip.format("e.embedding", "p.pe")} > 0
        |  THEN (CAST(1 AS BIGINT) << CAST(p.pid - 1 AS INT)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM embeddings e, p GROUP BY e.vec_id, e.embedding),
        |q AS (SELECT embedding AS qe, bucket AS qb FROM bk WHERE vec_id = 0)
        |SELECT b.vec_id, ${duckL2Zip.format("b.embedding", "q.qe")} AS score
        |FROM bk b, q WHERE b.bucket = q.qb
        |ORDER BY score ASC, b.vec_id ASC LIMIT 5""".stripMargin)),

    // q26's RECALL DIAL: multi-probe RP-LSH — the query's bucket plus all
    // 6 one-bit-flip neighbor buckets. Single-probe recall@5 is 0.27
    // (ANN_QUALITY.md); probing Hamming-1 buckets recovers neighbors that
    // fell one sign-bit away. Deterministic planes ⇒ the probe set is
    // oracle-expressible; hash-match proves the flip enumeration exact.
    QueryDef("q51_ann_lsh_multiprobe",
      (s, d) => SimilaritySearch.rpLshTopKMultiProbe(Tables.embeddings(s, d),
        "vec_id", "embedding",
        planePred = col("vec_id").between(1, 6), numPlanes = 6,
        queryId = 0L, k = 5, flips = 1),
      Some(s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings WHERE vec_id BETWEEN 1 AND 6),
        |bk AS (SELECT e.vec_id, e.embedding, CAST(SUM(CASE WHEN ${duckDotZip.format("e.embedding", "p.pe")} > 0
        |  THEN (CAST(1 AS BIGINT) << CAST(p.pid - 1 AS INT)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM embeddings e, p GROUP BY e.vec_id, e.embedding),
        |q AS (SELECT embedding AS qe, bucket AS qb FROM bk WHERE vec_id = 0),
        |pr AS (SELECT qe, unnest([qb] || list_transform(range(0, 6),
        |  j -> xor(qb, CAST(1 AS BIGINT) << CAST(j AS INT)))) AS qbp FROM q)
        |SELECT b.vec_id, ${duckL2Zip.format("b.embedding", "pr.qe")} AS score
        |FROM bk b, pr WHERE b.bucket = pr.qbp
        |ORDER BY score ASC, b.vec_id ASC LIMIT 5""".stripMargin)),

    // Vocabulary building: top-5 tokens per language by corpus frequency —
    // the tokenizer-vocab / stopword-table pass of a training-data
    // pipeline. Explode → hash-groupBy → per-group top-n (WindowGroupLimit
    // pushes the rank filter below the sort at scale, like q30).
    QueryDef("q38_vocab_topn",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("lang"), explode(wsTokens(col("text"))).as("tok"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("cnt").desc, col("tok").asc)
        toks.groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .orderBy(col("lang"), col("rank"))
      },
      Some(s"""WITH t AS (SELECT lang, unnest($duckToks) AS tok FROM documents),
        |c AS (SELECT lang, tok, COUNT(*) AS cnt FROM t GROUP BY lang, tok)
        |SELECT lang, tok, cnt,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok ASC) AS INT) AS rank
        |FROM c QUALIFY rank <= 5 ORDER BY lang, rank""".stripMargin)),

    // Document-frequency table (the IDF / stopword-detection pass): per
    // token, the number of docs containing it. Per-doc distinct BEFORE the
    // explode keeps the aggregate's input at one row per (doc, token) —
    // counts stay integer-exact; the ratio is a single IEEE division, so
    // it hash-matches.
    QueryDef("q39_token_df",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val total = docs.agg(count(lit(1)).as("n_docs"))
        docs.select(col("doc_id"),
            explode(array_distinct(wsTokens(col("text")))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(total))
          .select(col("tok"), col("df"),
            (col("df").cast("double") / col("n_docs").cast("double")).as("df_ratio"))
          .orderBy(col("df").desc, col("tok").asc)
          .limit(20)
      },
      Some("""WITH t AS (SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        |d AS (SELECT tok, COUNT(*) AS df FROM t GROUP BY tok),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tok, df, CAST(df AS DOUBLE)/CAST(n_docs AS DOUBLE) AS df_ratio FROM d, n
        |ORDER BY df DESC, tok ASC LIMIT 20""".stripMargin)),

    // Product-quantization ADC search (deterministic codebooks: subvectors
    // of rows 0..3, M=2 subspaces, K=4 codewords): encode every row to 2
    // codes, score = 2 table lookups — the memory-compression ANN tier
    // (codes are ~128x smaller than the vectors; SCALE.md "PQ"). Encode
    // argmin ties break to the lowest code on BOTH engines (first-match
    // array_position / row_number over (d, c)); the trained-codebook form
    // is Pq.trainCodebooks (recall rows in ANN_QUALITY.md).
    QueryDef("q40_ann_pq",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cb = Pq.deterministicCodebooks(emb, "vec_id", "embedding",
          numSub = 2, numWords = 4)
        // the ADC table is built driver-side from the query vector by
        // design (that IS the algorithm's query-time step); row 0 is Q
        val q = emb.where(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toArray
        Pq.adcTopK(emb, "vec_id", "embedding", cb, q, k = 5)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding[1:32] AS s0, embedding[33:64] AS s1 FROM embeddings),
        |cw AS (SELECT vec_id AS c, embedding[1:32] AS w0, embedding[33:64] AS w1 FROM embeddings WHERE vec_id < 4),
        |qq AS (SELECT s0 AS q0, s1 AS q1 FROM e WHERE vec_id = 0),
        |a0 AS (SELECT e.vec_id, cw.c, row_number() OVER (PARTITION BY e.vec_id
        |  ORDER BY ${duckL2Zip.format("e.s0", "cw.w0")} ASC, cw.c ASC) AS rn FROM e, cw),
        |a1 AS (SELECT e.vec_id, cw.c, row_number() OVER (PARTITION BY e.vec_id
        |  ORDER BY ${duckL2Zip.format("e.s1", "cw.w1")} ASC, cw.c ASC) AS rn FROM e, cw),
        |t0 AS (SELECT cw.c, ${duckL2Zip.format("qq.q0", "cw.w0")} AS d FROM cw, qq),
        |t1 AS (SELECT cw.c, ${duckL2Zip.format("qq.q1", "cw.w1")} AS d FROM cw, qq),
        |codes AS (SELECT a0.vec_id, a0.c AS c0, a1.c AS c1 FROM a0 JOIN a1 ON a0.vec_id = a1.vec_id
        |  WHERE a0.rn = 1 AND a1.rn = 1)
        |SELECT codes.vec_id, t0.d + t1.d AS score
        |FROM codes JOIN t0 ON t0.c = codes.c0 JOIN t1 ON t1.c = codes.c1
        |ORDER BY score ASC, codes.vec_id ASC LIMIT 5""".stripMargin)),

    // The SearchRequest surface on the PQ tier (filter pre-encode,
    // threshold on the ADC score) — the q34 discipline extended to the
    // memory tier, so every ANN tier now honors the reference's full
    // request shape (`src/vector_db.thrift:23-28`). Threshold 0.3 keeps
    // only rows whose codes equal the query's (ADC score 0).
    QueryDef("q62_ann_pq_filtered",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cb = Pq.deterministicCodebooks(emb, "vec_id", "embedding",
          numSub = 2, numWords = 4)
        val q = emb.where(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toArray
        Pq.adcTopK(emb, "vec_id", "embedding", cb, q, k = 8,
          filter = Some(col("vec_id") % 2 === 0), threshold = Some(0.3))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding[1:32] AS s0, embedding[33:64] AS s1 FROM embeddings WHERE vec_id % 2 = 0),
        |cw AS (SELECT vec_id AS c, embedding[1:32] AS w0, embedding[33:64] AS w1 FROM embeddings WHERE vec_id < 4),
        |qq AS (SELECT embedding[1:32] AS q0, embedding[33:64] AS q1 FROM embeddings WHERE vec_id = 0),
        |a0 AS (SELECT e.vec_id, cw.c, row_number() OVER (PARTITION BY e.vec_id
        |  ORDER BY ${duckL2Zip.format("e.s0", "cw.w0")} ASC, cw.c ASC) AS rn FROM e, cw),
        |a1 AS (SELECT e.vec_id, cw.c, row_number() OVER (PARTITION BY e.vec_id
        |  ORDER BY ${duckL2Zip.format("e.s1", "cw.w1")} ASC, cw.c ASC) AS rn FROM e, cw),
        |t0 AS (SELECT cw.c, ${duckL2Zip.format("qq.q0", "cw.w0")} AS d FROM cw, qq),
        |t1 AS (SELECT cw.c, ${duckL2Zip.format("qq.q1", "cw.w1")} AS d FROM cw, qq),
        |codes AS (SELECT a0.vec_id, a0.c AS c0, a1.c AS c1 FROM a0 JOIN a1 ON a0.vec_id = a1.vec_id
        |  WHERE a0.rn = 1 AND a1.rn = 1)
        |SELECT codes.vec_id, t0.d + t1.d AS score
        |FROM codes JOIN t0 ON t0.c = codes.c0 JOIN t1 ON t1.c = codes.c1
        |WHERE t0.d + t1.d <= 0.3
        |ORDER BY score ASC, codes.vec_id ASC LIMIT 8""".stripMargin)),

    // SQ8 scalar-quantization tier (Sq.sq8TopK): per-dimension min/max
    // ranges → byte codes → asymmetric dequantized scoring, top-5. The
    // FAISS SQ8 middle tier between PQ (q40) and exact floats (q02).
    // min/max training is ORDER-FREE (unlike any float-sum statistic), so
    // the whole tier — ranges, codes, scores — replicates bit-exactly in
    // the oracle; no other quantized index admits a full hash-match.
    QueryDef("q74_ann_sq8",
      (s, d) => graft.operators.Sq.sq8TopK(Tables.embeddings(s, d),
        "vec_id", "embedding", queryId = 0L, k = 5),
      Some("""WITH x AS (SELECT CAST(generate_subscripts(embedding, 1) AS INT) - 1 AS pos,
        |  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |r AS (SELECT pos, MIN(v) AS lo, MAX(v) AS hi FROM x GROUP BY pos),
        |ra AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his FROM r),
        |q AS (SELECT list_transform(embedding, e -> CAST(e AS DOUBLE)) AS qe
        |  FROM embeddings WHERE vec_id = 0),
        |sc AS (SELECT em.vec_id,
        |  list_sum(list_transform(list_zip(q.qe,
        |    list_transform(range(1, len(em.embedding) + 1), i ->
        |      CASE WHEN ra.his[i] = ra.los[i] THEN ra.los[i]
        |        ELSE ra.los[i] + floor((CAST(em.embedding[i] AS DOUBLE) - ra.los[i]) * 255.0 / (ra.his[i] - ra.los[i]) + 0.5)
        |          * (ra.his[i] - ra.los[i]) / 255.0 END)),
        |    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS score
        |  FROM embeddings em, ra, q)
        |SELECT vec_id, score FROM sc ORDER BY score ASC, vec_id ASC LIMIT 5""".stripMargin)),

    // Binary-quantization tier (Bq.bqTopK): sign-bit pack → Hamming
    // (XOR+popcount over dim/32 words, 32× fewer bytes than the float
    // scan) → top-50 candidates → exact L2 re-rank → top-5. The modern
    // retrieval stack's first-pass filter; Hamming is pack-invariant, so
    // the oracle counts sign mismatches dimension-wise and the re-rank
    // is the engine's standard bit-exact fold — full hash-match.
    QueryDef("q96_ann_binary",
      (s, d) => graft.operators.Bq.bqTopK(Tables.embeddings(s, d),
        "vec_id", "embedding", dim = 64, queryId = 0L, k = 5,
        rerankFrom = 50),
      Some(s"""WITH q AS (SELECT list_transform(embedding, e -> CAST(e AS DOUBLE)) AS qe
        |  FROM embeddings WHERE vec_id = 0),
        |h AS (SELECT e.vec_id, list_sum(list_transform(range(1, len(e.embedding) + 1),
        |    i -> CASE WHEN (CAST(e.embedding[i] AS DOUBLE) > 0) <> (q.qe[i] > 0)
        |         THEN 1 ELSE 0 END)) AS ham
        |  FROM embeddings e, q),
        |cand AS (SELECT vec_id FROM h ORDER BY ham ASC, vec_id ASC LIMIT 50),
        |sc AS (SELECT e.vec_id, ${duckL2Zip.format("e.embedding", "q.qe")} AS score
        |  FROM embeddings e JOIN cand USING (vec_id), q)
        |SELECT vec_id, score FROM sc ORDER BY score ASC, vec_id ASC LIMIT 5""".stripMargin)),

    // IVF-SQ8 composed tier (FAISS `IVF8,SQ8`): prune to the query's 2
    // nearest cells, score byte codes inside them — nprobe/K of a 4×-
    // smaller corpus. Deterministic centroids + order-free SQ ranges
    // make the whole approximate composition hash-checkable, which no
    // KMeans-trained tier can be.
    QueryDef("q79_ann_ivf_sq8",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        graft.operators.Sq.ivfSq8TopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 8)
            .select(col("vec_id").as("cid"), col("embedding").as("ce")),
          queryId = 0L, k = 5, nprobe = 2)
      },
      Some(s"""WITH x AS (SELECT CAST(generate_subscripts(embedding, 1) AS INT) - 1 AS pos,
        |  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |r AS (SELECT pos, MIN(v) AS lo, MAX(v) AS hi FROM x GROUP BY pos),
        |ra AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his FROM r),
        |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
        |a AS (SELECT e.vec_id, e.embedding, c.cid, ${duckL2Zip.format("e.embedding", "c.ce")} AS d FROM embeddings e, c),
        |asg AS (SELECT vec_id, embedding, cid FROM a
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) = 1),
        |qq AS (SELECT embedding AS qe0,
        |  list_transform(embedding, e -> CAST(e AS DOUBLE)) AS qe
        |  FROM embeddings WHERE vec_id = 0),
        |pr AS (SELECT cid AS qcid FROM (SELECT c.cid, ${duckL2Zip.format("c.ce", "qq.qe0")} AS d
        |  FROM c, qq ORDER BY d ASC, cid ASC LIMIT 2)),
        |sc AS (SELECT asg.vec_id,
        |  list_sum(list_transform(list_zip(qq.qe,
        |    list_transform(range(1, len(asg.embedding) + 1), i ->
        |      CASE WHEN ra.his[i] = ra.los[i] THEN ra.los[i]
        |        ELSE ra.los[i] + floor((CAST(asg.embedding[i] AS DOUBLE) - ra.los[i]) * 255.0 / (ra.his[i] - ra.los[i]) + 0.5)
        |          * (ra.his[i] - ra.los[i]) / 255.0 END)),
        |    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS score
        |  FROM asg JOIN pr ON asg.cid = pr.qcid, ra, qq)
        |SELECT vec_id, score FROM sc ORDER BY score ASC, vec_id ASC LIMIT 5""".stripMargin)),

    // Reproducible stratified sampling: per-language keep rates applied
    // with a deterministic md5 coin — the curation downsample (cut
    // over-represented languages) that must pick the SAME rows on every
    // run and engine. No rand(): the coin is a pure function of doc_id.
    QueryDef("q41_stratified_sample",
      (s, d) => {
        val rate = when(col("lang") === "en", lit(0.25))
          .when(col("lang") === "de", lit(0.5))
          .when(col("lang") === "es", lit(0.5))
          .otherwise(lit(1.0))
        Tables.documents(s, d)
          .where(md5Unit(col("doc_id").cast("string")) < rate)
          .groupBy("lang")
          .agg(count(lit(1)).as("kept"), min("doc_id").as("first_kept"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS kept, MIN(doc_id) AS first_kept FROM documents
        |WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8) AS BIGINT) AS DOUBLE) / 4294967296.0
        |  < CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 0.5 WHEN 'es' THEN 0.5 ELSE 1.0 END
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Train/val/test split assignment: salted md5 bucket in [0,100) →
    // 80/10/10, independent of the q41 sampling coin (different salt).
    // Deterministic and engine-portable — the split a 100-TB corpus
    // carries as a COLUMN, so downstream readers partition-prune their
    // split instead of re-rolling it.
    QueryDef("q42_split_assign",
      (s, d) => {
        val b = md5Bucket(col("doc_id").cast("string"), 100, salt = "split:")
        val split = when(b < 80, "train").when(b < 90, "val").otherwise("test")
        Tables.documents(s, d)
          .groupBy(col("lang"), split.as("split"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("lang", "split")
      },
      Some("""WITH b AS (SELECT lang,
        |  CAST(CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 25, 8) AS BIGINT) % 100 AS BIGINT) AS bk
        |  FROM documents)
        |SELECT lang, CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val' ELSE 'test' END AS split,
        |  COUNT(*) AS cnt FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),

    // Repetition scoring (the Gopher/C4 duplicate-n-gram quality rule):
    // rep3 = 1 - distinct3grams/total3grams — boilerplate and degenerate
    // generations score high and get filtered. Gram construction is the
    // EXACT q19 shape on both engines (incl. the greatest(..,1) floor for
    // tiny docs), so the ratio hash-matches.
    QueryDef("q43_repetition_score",
      (s, d) => {
        val toked = Tables.documentsPar(s, d)
          .select(col("doc_id"), wsTokens(col("text")).as("toks"))
        toked.select(col("doc_id"),
            size(col("toks")).as("n_toks"),
            size(ngramsOfTokens(col("toks"), 3)).as("distinct3"),
            greatest(size(col("toks")) - 2, lit(1)).as("total3"))
          .select(col("doc_id"),
            // BIGINT like the oracle's length(): int32 here is the same
            // dtype-drift class as the q58 HUGEINT bug (driver-hash risk)
            col("n_toks").cast("long").as("n_toks"),
            col("distinct3").cast("long").as("distinct3"),
            (lit(1.0) - col("distinct3").cast("double") / col("total3").cast("double"))
              .as("rep3"))
          .orderBy(col("rep3").desc, col("doc_id").asc)
          .limit(15)
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
        |g AS (SELECT doc_id, length(toks) AS n_toks,
        |  length(list_distinct(list_transform(range(0, greatest(length(toks)-2, 1)),
        |    i -> array_to_string(list_slice(toks, CAST(i+1 AS INT), CAST(i+3 AS INT)), ' ')))) AS distinct3,
        |  greatest(length(toks)-2, 1) AS total3 FROM t)
        |SELECT doc_id, n_toks, distinct3,
        |  1 - CAST(distinct3 AS DOUBLE)/CAST(total3 AS DOUBLE) AS rep3
        |FROM g ORDER BY rep3 DESC, doc_id ASC LIMIT 15""".stripMargin)),

    // Sequence packing for pretraining batches: within each language,
    // docs (in doc_id order) fill 512-token bins by exclusive running
    // token count — the deterministic, shuffle-once packing a 100-TB
    // pipeline runs before tokenizer sharding. 512 = 2^9, so the
    // bin-division is exact in double on both engines.
    QueryDef("q44_sequence_pack",
      (s, d) => {
        val toked = Tables.documents(s, d)
          .select(col("lang"), col("doc_id"),
            size(wsTokens(col("text"))).cast("long").as("n_tok"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        toked
          .withColumn("cum", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .withColumn("bin", floor(col("cum") / lit(512.0)).cast("long"))
          .groupBy("lang", "bin")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"))
          .orderBy("lang", "bin")
      },
      Some(s"""WITH t AS (SELECT lang, doc_id, CAST(length($duckToks) AS BIGINT) AS n_tok FROM documents),
        |c AS (SELECT lang, doc_id, n_tok, COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t)
        |SELECT lang, CAST(FLOOR(CAST(cum AS DOUBLE)/512.0) AS BIGINT) AS bin,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tok
        |FROM c GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin)),

    // Time-series similarity join: each user's event-value sequence (first
    // 8 values in (ts, event_id) order) as a vector, cosine over user
    // pairs, top-10. The series assembly is ONE shuffle (groupBy user);
    // the pair join is exact over the 150 series entities — q47 is the
    // blocked scale path over the SAME vectors.
    QueryDef("q46_series_simjoin",
      (s, d) => {
        val a = seriesVectors(s, d).select(col("user_id").as("a"), col("series").as("sa"))
        val b = seriesVectors(s, d).select(col("user_id").as("b"), col("series").as("sb"))
        a.join(b, col("a") < col("b"))
          .select(col("a"), col("b"),
            graft.functions.VectorFunctions.cosine(col("sa"), col("sb")).as("sim"))
          .orderBy(col("sim").desc, col("a").asc, col("b").asc)
          .limit(10)
      },
      Some(s"""WITH s AS ($duckSeries)
        |SELECT a.user_id AS a, b.user_id AS b,
        |  ${duckDotZip.format("a.series", "b.series")} /
        |    (sqrt(${duckDotZip.format("a.series", "a.series")}) * sqrt(${duckDotZip.format("b.series", "b.series")})) AS sim
        |FROM s a JOIN s b ON a.user_id < b.user_id
        |ORDER BY sim DESC, a ASC, b ASC LIMIT 10""".stripMargin)),

    // q46's SCALE PATH: the same series vectors, pairs generated only
    // within a shared sign-LSH bucket. Sign bits come from MEAN-CENTERED
    // copies (planes = users 1..6's centered series): event values are
    // all nonnegative, so uncentered sign-LSH would put EVERY row in one
    // bucket (all dots positive) and silently degenerate to the n²
    // product — centering restores discriminating signs while cosine
    // still ranks the raw series. Deterministic planes ⇒ oracle-exact.
    QueryDef("q47_series_simjoin_bucketed",
      (s, d) => {
        // mean = /8 (power of two): the centered values are bit-exact on
        // both engines, so sign decisions agree
        val centered = seriesVectors(s, d)
          .withColumn("mean",
            aggregate(col("series"), lit(0.0), (acc, x) => acc + x) / lit(8.0))
          .withColumn("centered", transform(col("series"), x => x - col("mean")))
        Dedup.cosinePairsInLshBuckets(centered, "user_id", "series",
            planePred = col("user_id").between(1, 6),
            blockVecCol = Some("centered"))
          .orderBy(col("cos_sim").desc, col("a").asc, col("b").asc)
          .limit(10)
      },
      Some(s"""WITH s AS ($duckSeries),
        |c AS (SELECT user_id, series,
        |  list_transform(series, v -> CAST(v AS DOUBLE) -
        |    list_sum(list_transform(series, x -> CAST(x AS DOUBLE))) / 8.0) AS centered FROM s),
        |p AS (SELECT user_id AS pid, centered AS pe FROM c WHERE user_id BETWEEN 1 AND 6),
        |bk AS (SELECT c.user_id, c.series, CAST(SUM(CASE WHEN ${duckDotZip.format("c.centered", "p.pe")} > 0
        |  THEN (CAST(1 AS BIGINT) << CAST(p.pid - 1 AS INT)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM c, p GROUP BY c.user_id, c.series)
        |SELECT a.user_id AS a, b.user_id AS b,
        |  ${duckDotZip.format("a.series", "b.series")} /
        |    (sqrt(${duckDotZip.format("a.series", "a.series")}) * sqrt(${duckDotZip.format("b.series", "b.series")})) AS cos_sim
        |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.user_id < b.user_id
        |ORDER BY cos_sim DESC, a ASC, b ASC LIMIT 10""".stripMargin)),

    // Benchmark decontamination: corpus docs (doc_id%10 != 7) sharing ANY
    // word-8-gram with the held-out "benchmark" split (doc_id%10 = 7) are
    // flagged with their shared-gram count. 8-grams (not 3) so matches
    // mean real near-dup contamination, not common phrases — 4 flagged of
    // 450 at sf0.001. Scale shape: the bench gram-hash set broadcasts
    // (eval sets are tiny vs a corpus), one corpus scan + map-side join.
    QueryDef("q50_decontaminate",
      (s, d) => {
        val docs = Tables.documentsPar(s, d)
        Decontaminate.sharedGramCounts(
            docs.where(col("doc_id") % 10 =!= 7),
            docs.where(col("doc_id") % 10 === 7),
            "doc_id", "text", n = 8)
          .orderBy(col("doc_id"))
      },
      Some("""WITH g AS (SELECT doc_id, list_distinct(list_transform(
        |  range(0, greatest(length(regexp_split_to_array(trim(text), '\s+'))-7, 1)),
        |  i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), CAST(i+1 AS INT), CAST(i+8 AS INT)), ' '))) AS grams
        |  FROM documents),
        |h AS (SELECT doc_id, CAST('0x'||substr(md5(unnest(grams)),18,15) AS BIGINT) AS gh FROM g),
        |bench AS (SELECT DISTINCT gh FROM h WHERE doc_id % 10 = 7)
        |SELECT h.doc_id, count(DISTINCT h.gh) AS n_shared
        |FROM h JOIN bench USING (gh) WHERE h.doc_id % 10 != 7
        |GROUP BY h.doc_id
        |ORDER BY doc_id""".stripMargin)),

    // Curriculum ordering: every document's EXACT global training-order
    // index under (token-count band asc, doc_id asc) — easy-to-hard —
    // WITHOUT the global row_number window (which would funnel the
    // corpus through one task): per-band counts -> tiny exclusive-offset
    // window (band-cardinality rows) -> intra-band ranks partitioned BY
    // band + broadcast offset. The oracle IS the naive global window, so
    // the hash-match proves the decomposition exact.
    QueryDef("q134_curriculum_order",
      (s, d) => {
        val t = Tables.documents(s, d).select(col("doc_id"),
          expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) div 50")
            .as("band"))
        graft.operators.Curriculum.globalOrderIndex(t, "band", "doc_id")
          .select(col("doc_id"), col("band"), col("ord"))
          .orderBy("ord")
      },
      Some("""WITH t AS (SELECT doc_id,
        |  CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) // 50 AS band
        |  FROM documents)
        |SELECT doc_id, band,
        |  CAST(row_number() OVER (ORDER BY band, doc_id) AS BIGINT) AS ord
        |FROM t ORDER BY ord""".stripMargin)),

    // SEMANTIC decontamination — q50's embedding-space complement: flag
    // every corpus vector with cosine >= 0.9 to ANY "benchmark" vector
    // (vec_id % 97 = 0 plays the eval set). The benchmark rides the plan
    // as one literal (eval sets are tiny), so the scan is row-local —
    // zero shuffle. Cosine = correctly-rounded IEEE ops over index-order
    // folds and MAX is order-free, so the float scores hash-match; on
    // this near-orthogonal fixture the flags are exactly the planted
    // bench members themselves (cos = 1), pinning the whole scorer.
    QueryDef("q133_semantic_decontam",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val bench = emb.where(col("vec_id") % 97 === 0)
          .orderBy("vec_id").select("embedding")
          .collect().map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
        Decontaminate.semanticFlags(emb, "vec_id", "embedding", bench,
            tau = 0.9)
          .orderBy("vec_id")
      },
      Some("""WITH b AS (SELECT embedding AS bv FROM embeddings WHERE vec_id % 97 = 0),
        |e AS (SELECT vec_id, embedding AS v,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nv FROM embeddings),
        |s AS (SELECT e.vec_id,
        |  CASE WHEN e.nv = 0 THEN -1.0 ELSE MAX(
        |    list_sum(list_transform(list_zip(e.v, b.bv), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
        |    / (e.nv * sqrt(list_sum(list_transform(b.bv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))) END AS max_cos_bench
        |  FROM e, b GROUP BY e.vec_id, e.nv)
        |SELECT vec_id, max_cos_bench FROM s WHERE max_cos_bench >= 0.9
        |ORDER BY vec_id""".stripMargin)),

    // Chunk-level exact substring dedup (Lee et al. 2022 approximated on
    // non-overlapping 8-token chunks): chunks appearing in >1 document are
    // boilerplate, cut everywhere, docs reassembled in order. The hot set
    // is computed over the FULL corpus; output restricted to doc_id < 500
    // for bounded rows. 166 dup chunks / 3708 at sf0.001.
    QueryDef("q52_chunk_dedup",
      (s, d) => Dedup.chunkDedup(Tables.documents(s, d), "doc_id", "text", k = 8)
        .where(col("doc_id") < 500)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, list_transform(range(0, greatest(CAST(ceil(length(toks)/8.0) AS BIGINT), 1)),
        |  i -> array_to_string(list_slice(toks, CAST(i*8+1 AS INT), CAST(i*8+8 AS INT)), ' ')) AS chunks FROM t),
        |e AS (SELECT doc_id, CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS pos, unnest(chunks) AS chunk FROM c),
        |h AS (SELECT doc_id, pos, chunk, CAST('0x'||substr(md5(chunk),18,15) AS BIGINT) AS ch FROM e),
        |hot AS (SELECT ch FROM h GROUP BY ch HAVING count(DISTINCT doc_id) > 1),
        |kept AS (SELECT * FROM h WHERE ch NOT IN (SELECT ch FROM hot)),
        |agg AS (SELECT doc_id, count(*) AS n_kept, string_agg(chunk, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id)
        |SELECT c.doc_id, CAST(length(c.chunks) AS BIGINT) AS n_chunks,
        |  CAST(length(c.chunks) AS BIGINT) - coalesce(a.n_kept, 0) AS n_dropped,
        |  coalesce(a.clean_text, '') AS clean_text
        |FROM c LEFT JOIN agg a USING (doc_id)
        |WHERE c.doc_id < 500
        |ORDER BY doc_id""".stripMargin)),

    // FIRST-OCCURRENCE-KEPT span dedup (Lee et al. 2022, RefinedWeb
    // policy): every duplicated 8-token chunk survives at its EARLIEST
    // corpus position (min doc_id·2^20 + pos, exact-integer order) and
    // is removed from later copies — q52's delete-everywhere twin that
    // loses repetition but never content. Same three hash-key shuffles.
    QueryDef("q131_chunk_dedup_first",
      (s, d) => Dedup.chunkDedupKeepFirst(Tables.documents(s, d), "doc_id",
          "text", k = 8)
        .where(col("doc_id") < 500)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, list_transform(range(0, greatest(CAST(ceil(length(toks)/8.0) AS BIGINT), 1)),
        |  i -> array_to_string(list_slice(toks, CAST(i*8+1 AS INT), CAST(i*8+8 AS INT)), ' ')) AS chunks FROM t),
        |e AS (SELECT doc_id, CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS pos, unnest(chunks) AS chunk FROM c),
        |h AS (SELECT doc_id, pos, chunk, CAST('0x'||substr(md5(chunk),18,15) AS BIGINT) AS ch FROM e),
        |f AS (SELECT ch, min(doc_id*1048576 + pos) AS fo FROM h GROUP BY ch),
        |kept AS (SELECT h.* FROM h JOIN f ON h.ch = f.ch AND h.doc_id*1048576 + h.pos = f.fo),
        |agg AS (SELECT doc_id, count(*) AS n_kept, string_agg(chunk, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id)
        |SELECT c.doc_id, CAST(length(c.chunks) AS BIGINT) AS n_chunks,
        |  CAST(length(c.chunks) AS BIGINT) - coalesce(a.n_kept, 0) AS n_dropped,
        |  coalesce(a.clean_text, '') AS clean_text
        |FROM c LEFT JOIN agg a USING (doc_id)
        |WHERE c.doc_id < 500
        |ORDER BY doc_id""".stripMargin)),

    // Prefix-filtered set-similarity join (AllPairs/PPJoin, MapReduce
    // form per Vernica et al. 2010): all pairs with 3-gram-set Jaccard
    // ≥ 1/2, candidates ONLY from each doc's |x|−⌈t|x|⌉+1 globally-
    // rarest grams. The oracle computes the full quadratic join — the
    // hash-match PROVES the prefix filter is lossless, not just fast.
    // Threshold arithmetic is all-integer (rational 1/2), so prefix
    // lengths and the qualifying set are bit-portable. 3-grams, not
    // words: this corpus is templated (most docs share most VOCABULARY,
    // so any word-set threshold passes ~80% of ALL pairs and the output
    // itself is quadratic — measured 10.4M pairs at sf0.1); gram sets
    // keep the qualifying pairs to the true near-dups (256 at sf0.1).
    QueryDef("q98_jaccard_prefix",
      (s, d) => graft.operators.Dedup.jaccardPairsPrefix(
          Tables.documentsPar(s, d), "doc_id", "text", tNum = 1, tDen = 2,
          gramN = 3)
        .orderBy(col("jac").desc, col("a").asc, col("b").asc)
        .limit(20),
      Some("""WITH g AS (SELECT doc_id, list_filter(list_distinct(list_transform(
        |    range(0, greatest(length(regexp_split_to_array(trim(text), '\s+'))-2, 1)),
        |    i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), CAST(i+1 AS INT), CAST(i+3 AS INT)), ' '))),
        |    x -> x <> '') AS grams FROM documents),
        |h AS (SELECT doc_id, list_distinct(list_transform(grams,
        |    x -> CAST('0x' || substr(md5(x), 18, 15) AS BIGINT))) AS toks FROM g),
        |s AS (SELECT doc_id, toks, CAST(length(toks) AS BIGINT) AS sz FROM h WHERE length(toks) > 0),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.sz AS sa, y.sz AS sb,
        |    CAST(length(list_intersect(x.toks, y.toks)) AS BIGINT) AS inter
        |  FROM s x JOIN s y ON x.doc_id < y.doc_id)
        |SELECT a, b, CAST(inter AS DOUBLE) / (sa + sb - inter) AS jac
        |FROM p WHERE inter * 2 >= 1 * (sa + sb - inter)
        |ORDER BY jac DESC, a ASC, b ASC LIMIT 20""".stripMargin)),

    // Winnowing (MOSS) overlap report: k-gram hashes → sliding-window
    // minima (guaranteed to catch any shared run of w+k−1 = 8 chars) →
    // doc pairs ranked by shared fingerprints. Fingerprint selection is
    // one integer total order (hash·2²⁰+pos), so both engines keep
    // identical minima; hot fingerprints are capped (maxDocFreq = 20)
    // before the pair join, the q36 discipline. Shuffles carry longs.
    QueryDef("q97_winnow_overlap",
      (s, d) => graft.operators.Dedup.winnowOverlapPairs(
          Tables.documentsPar(s, d), "doc_id", "text", k = 5, w = 4,
          maxDocFreq = 20)
        .orderBy(col("n_shared").desc, col("a").asc, col("b").asc)
        .limit(10),
      Some("""WITH d0 AS (SELECT doc_id, text, greatest(length(text) - 4, 1) AS n FROM documents),
        |g0 AS (SELECT doc_id, n, list_transform(range(0, n), i ->
        |    CAST('0x' || substr(md5(substr(text, CAST(i + 1 AS INT), 5)), 25, 8) AS BIGINT) * 1048576 + i + 1) AS hps
        |  FROM d0),
        |g AS (SELECT doc_id, n, CAST(generate_subscripts(hps, 1) AS BIGINT) AS pos, unnest(hps) AS hp FROM g0),
        |w AS (SELECT doc_id, n, pos, min(hp) OVER (PARTITION BY doc_id ORDER BY pos ASC
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM g),
        |f AS (SELECT DISTINCT doc_id, fp // 1048576 AS h FROM w WHERE pos <= greatest(n - 3, 1)),
        |cool AS (SELECT h FROM f GROUP BY h HAVING COUNT(DISTINCT doc_id) <= 20),
        |k AS (SELECT doc_id, f.h FROM f JOIN cool USING (h)),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared
        |  FROM k x JOIN k y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT a, b, n_shared FROM p
        |ORDER BY n_shared DESC, a ASC, b ASC LIMIT 10""".stripMargin)),

    // PII scrub: dirty text synthesized deterministically from customer
    // rows (email from the name, a separated phone, a URL with a digit
    // path, an IP) — IDENTICAL construction on both engines — then
    // redacted + audited. Hash-match proves the regex set behaves the
    // same under Java regex and RE2, i.e. it stays in the portable
    // subset the operator contract declares.
    QueryDef("q53_pii_scrub",
      (s, d) => {
        val dirty = Tables.customer(s, d)
          .where(col("c_custkey") < 200)
          .select(col("c_custkey"), concat(
            lit("contact "), col("c_name"),
            lit(" at "), lower(regexp_replace(col("c_name"), "#", "")),
            lit("@example.com or +1 555-"),
            lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
            lit(" 9876 visit https://ex.com/u/"), col("c_custkey").cast("string"),
            lit(" ip 10.0."), (col("c_custkey") % 256).cast("string"),
            lit(".1 done")).as("text"))
        graft.operators.Scrub.scrub(dirty, "text")
          .select("c_custkey", "redacted", "n_urls", "n_emails", "n_ips", "n_phones")
          .orderBy("c_custkey")
      },
      Some("""WITH d AS (SELECT c_custkey,
        |  'contact ' || c_name || ' at ' || lower(replace(c_name, '#', '')) ||
        |  '@example.com or +1 555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
        |  ' 9876 visit https://ex.com/u/' || CAST(c_custkey AS VARCHAR) ||
        |  ' ip 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.1 done' AS text
        |  FROM customer WHERE c_custkey < 200)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d()]*[\s\-][\d\s\-()]{4,}\d', '<PHONE>', 'g') AS redacted,
        |  CAST(length(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
        |  CAST(length(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(length(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(length(regexp_extract_all(text, '\+?\d[\d()]*[\s\-][\d\s\-()]{4,}\d')) AS BIGINT) AS n_phones
        |FROM d ORDER BY c_custkey""".stripMargin)),

    // SAX blocking over the SAME series vectors as q46/q47: z-normalize,
    // 4-segment PAA (segLen 2 — power-of-two means), N(0,1) quartile
    // letters; pairs share a 4-letter shape word, cosine re-rank, top-10.
    // The symbolic sibling of q47's sign-LSH blocking — shape-aware and
    // interpretable where random planes are not. Std's sqrt/divide are
    // correctly rounded on identical operands, so words hash-match.
    QueryDef("q54_series_sax_blocked",
      (s, d) => graft.operators.Sax.saxBlockedPairs(
          seriesVectors(s, d), "user_id", "series", segments = 4)
        .orderBy(col("cos_sim").desc, col("a").asc, col("b").asc)
        .limit(10),
      Some(s"""WITH s AS ($duckSeries),
        |m AS (SELECT user_id, series, list_sum(series)/8.0 AS mean FROM s),
        |sd AS (SELECT user_id, series, mean,
        |  sqrt(list_sum(list_transform(series, x -> (x - mean)*(x - mean)))/8.0) AS std FROM m),
        |z AS (SELECT user_id, series,
        |  CASE WHEN std = 0 THEN list_transform(series, x -> 0.0)
        |       ELSE list_transform(series, x -> (x - mean)/std) END AS zs FROM sd),
        |pa AS (SELECT user_id, series, list_transform(range(0, 4),
        |  i -> list_sum(list_slice(zs, CAST(i*2+1 AS INT), CAST(i*2+2 AS INT)))/2.0) AS paa FROM z),
        |w AS (SELECT user_id, series, array_to_string(list_transform(paa, v ->
        |  ['a','b','c','d'][CAST(1 + CASE WHEN v > -0.6745 THEN 1 ELSE 0 END
        |    + CASE WHEN v > 0.0 THEN 1 ELSE 0 END
        |    + CASE WHEN v > 0.6745 THEN 1 ELSE 0 END AS INT)]), '') AS sax FROM pa)
        |SELECT a.user_id AS a, b.user_id AS b, a.sax,
        |  ${duckDotZip.format("a.series", "b.series")} /
        |    (sqrt(${duckDotZip.format("a.series", "a.series")}) * sqrt(${duckDotZip.format("b.series", "b.series")})) AS cos_sim
        |FROM w a JOIN w b ON a.sax = b.sax AND a.user_id < b.user_id
        |ORDER BY cos_sim DESC, a ASC, b ASC LIMIT 10""".stripMargin)),

    // The curation pipeline END-TO-END as ONE declarative plan: chunk
    // dedup over the full corpus -> keep docs that lost no chunks
    // (pristine survivors) -> per-language corpus stats over the CLEANED
    // text. Composition is the point: the same operators that pass
    // q52/q23 individually compose without materialization barriers, and
    // Catalyst still sees one optimizable tree.
    QueryDef("q55_curation_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cleaned = Dedup.chunkDedup(docs, "doc_id", "text", k = 8)
        cleaned.where(col("n_dropped") === 0)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(wsTokens(col("clean_text"))).cast("long")).as("n_tokens"))
          .orderBy(col("lang"))
      },
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, list_transform(range(0, greatest(CAST(ceil(length(toks)/8.0) AS BIGINT), 1)),
        |  i -> array_to_string(list_slice(toks, CAST(i*8+1 AS INT), CAST(i*8+8 AS INT)), ' ')) AS chunks FROM t),
        |e AS (SELECT doc_id, CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS pos, unnest(chunks) AS chunk FROM c),
        |h AS (SELECT doc_id, pos, chunk, CAST('0x'||substr(md5(chunk),18,15) AS BIGINT) AS ch FROM e),
        |hot AS (SELECT ch FROM h GROUP BY ch HAVING count(DISTINCT doc_id) > 1),
        |kept AS (SELECT * FROM h WHERE ch NOT IN (SELECT ch FROM hot)),
        |agg AS (SELECT doc_id, count(*) AS n_kept, string_agg(chunk, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id),
        |surv AS (SELECT c.doc_id, coalesce(a.clean_text, '') AS clean_text
        |  FROM c LEFT JOIN agg a USING (doc_id)
        |  WHERE CAST(length(c.chunks) AS BIGINT) - coalesce(a.n_kept, 0) = 0)
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(length(regexp_split_to_array(trim(s.clean_text), '\s+'))) AS BIGINT) AS n_tokens
        |FROM surv s JOIN documents d USING (doc_id)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin)),

    // Deterministic per-group "reservoir": 3 docs per language, selected
    // by md5-hex rank of the doc id — the balanced-subsample pass (eval
    // set construction, per-source quotas). Reproducible across runs and
    // engines because the coin is the md5 string itself; one window pass,
    // WindowGroupLimit prunes below the sort at scale (q30's shape).
    QueryDef("q57_reservoir_per_group",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
        Tables.documents(s, d)
          .select(col("lang"), col("doc_id"),
            row_number().over(w).as("rk"))
          .where(col("rk") <= 3)
          .orderBy(col("lang"), col("rk"))
      },
      Some("""SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS INT) AS rk
        |  FROM documents)
        |WHERE rk <= 3 ORDER BY lang, rk""".stripMargin)),

    // Weighted sampling by priority (Duffield-Lund-Thorup): 5 orders per
    // order-priority class, picked with probability ∝ total price. The
    // priority key is EXACT integer arithmetic over the md5 coin —
    // (w << 32) div (u+1) — so selection is bit-portable; a float w/u
    // could flip a borderline pick between engines. Per-group top-n =
    // map-side heaps + one shuffle (WindowGroupLimit), no sequential
    // reservoir state — the weighted-sampling form that scales.
    QueryDef("q94_weighted_sample",
      (s, d) => graft.operators.Sampling.prioritySample(
          Tables.orders(s, d).select(col("o_orderpriority"), col("o_orderkey"),
            floor(col("o_totalprice") * 1000).cast("long").as("w_m")),
          Seq("o_orderpriority"), "o_orderkey", "w_m", n = 5, salt = "ps:")
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"), col("w_m"))
        .orderBy("o_orderpriority", "rk"),
      Some("""WITH w AS (SELECT o_orderpriority, o_orderkey,
        |  CAST(floor(o_totalprice * 1000) AS BIGINT) AS w_m,
        |  CAST('0x' || substr(md5('ps:' || CAST(o_orderkey AS VARCHAR)), 25, 8) AS BIGINT) AS u
        |  FROM orders),
        |r AS (SELECT o_orderpriority, o_orderkey, w_m,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY (w_m * 4294967296) // (u + 1) DESC, o_orderkey ASC) AS INT) AS rk
        |  FROM w)
        |SELECT o_orderpriority, rk, o_orderkey, w_m FROM r
        |WHERE rk <= 5 ORDER BY o_orderpriority, rk""".stripMargin)),

    // Real BPE tokenizer training (Sennrich et al. 2016) END-TO-END,
    // oracle-pinned: distributed word count (one shuffle), driver merge
    // loop over the tiny vocab, all 8 learned merges as rows. The oracle
    // UNROLLS all 8 (pair-count → argmax → apply-merge) iterations in SQL
    // via [[bpeUnrolledOracle]] — the q88 wrapped-symbol/replace() trick,
    // generated per stage — so the FULL training run is (rows, schema,
    // hash)-checked, not just its first rounds. 8 merges keeps the
    // unrolled oracle tractable while exercising deep-round incremental
    // pair-delta maintenance (rounds 4-8 touch pairs created by earlier
    // merges); q88's hand-written 3-stage SQL stays as an independent
    // cross-check that the generator emits the audited shape.
    QueryDef("q56_bpe_merges",
      (s, d) => {
        import s.implicits._
        graft.operators.Bpe.train(Tables.documents(s, d), "text", numMerges = 8)
          .zipWithIndex.map { case (m, i) => (i, m.a, m.b) }
          .toDF("rk", "a", "b").orderBy("rk")
      },
      Some(bpeUnrolledOracle(8))),

    // BPE APPLY, oracle-checked end-to-end: train the same 8 merges
    // (q56's loop), then tokenize EVERY document declaratively —
    // Bpe.tokenizeInPlan replays each merge as one codegen replace over
    // the wrapped-symbol document (chr(3) word separators), so the SQL
    // twin is byte-identical by construction. Output = per-doc token
    // count under the learned vocabulary (what a sequence packer or a
    // token-budget cost model consumes). With q56 (training) this makes
    // the whole BPE lifecycle hash-pinned: learn -> apply -> count.
    QueryDef("q132_bpe_tokenize",
      (s, d) => {
        val docs = Tables.documentsPar(s, d)
        val merges = graft.operators.Bpe.train(docs, "text", numMerges = 8)
        graft.operators.Bpe.tokenizeInPlan(docs, "doc_id", "text", merges)
          .orderBy("doc_id")
      },
      Some(bpeTokenizeOracle(8))),

    // The DISTRIBUTED half of the BPE trainer, oracle-checked: the
    // word-frequency table (Bpe.wordCounts — the trainer's one shuffle,
    // cut to the same top-maxVocab, same total order) feeds weighted
    // adjacent-character-pair counts; the TOP row under (count desc, pair
    // asc) is by definition the trainer's FIRST merge (Bpe.train round 0
    // computes exactly this argmax), so the whole pre-loop pipeline is
    // hash-pinned while the driver merge loop stays in BpeSpec. Pairs via
    // substr (codepoint semantics on both engines) — never split-by-''.
    QueryDef("q83_bpe_pair_counts",
      (s, d) => {
        val wc = graft.operators.Bpe.wordCounts(Tables.documents(s, d), "text")
          .orderBy(col("cnt").desc, col("word").asc).limit(65536)
        wc.where(length(col("word")) >= 2)
          .select(col("cnt"), explode(transform(
            sequence(lit(1), length(col("word")) - 1),
            i => struct(col("word").substr(i, lit(1)).as("a"),
              col("word").substr(i + lit(1), lit(1)).as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("cnt")).as("pair_cnt"))
          .orderBy(col("pair_cnt").desc, col("a").asc, col("b").asc)
          .limit(20)
      },
      Some(s"""WITH t AS (SELECT unnest($duckToks) AS word FROM documents),
        |wc AS (SELECT word, COUNT(*) AS cnt FROM t WHERE word <> ''
        |       GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 65536),
        |p AS (SELECT substr(word, CAST(i AS INT), 1) AS a,
        |             substr(word, CAST(i AS INT) + 1, 1) AS b, cnt
        |      FROM (SELECT word, cnt, unnest(range(1, length(word))) AS i
        |            FROM wc WHERE length(word) >= 2))
        |SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS pair_cnt
        |FROM p GROUP BY a, b
        |ORDER BY pair_cnt DESC, a ASC, b ASC LIMIT 20""".stripMargin)),

    // NSW graph-ANN tier (the reference's ACTUAL index structure —
    // hnswlib per datanode, `src/datanode/handler.py:46,86`; here one
    // in-memory graph per partition + scatter-gather merge) run at its
    // exactness invariant: efSearch covers every partition, so the beam
    // IS an exhaustive scan and the result equals exact KNN — pinning
    // the build/search/merge plumbing against the plain KNN oracle (the
    // q35 full-probe trick). Approximate-mode recall is measured in
    // NswSpec and ANN_QUALITY.md, like every ANN tier.
    // Linear-counting distinct sketch (Whang et al. 1990): per-language
    // BUSY-BUCKET counts next to the exact distinct — the bounded-memory
    // COUNT(DISTINCT) whose state is <= buckets rows per group at ANY
    // corpus size. Salted-md5 bucket ids make the sketch state itself
    // exact integers on both engines (the ln() estimate stays driver-side:
    // transcendental libm results are not bit-stable across engines —
    // SketchSpec checks its accuracy instead).
    QueryDef("q85_linear_count",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("lang"), explode(wsTokens(col("text"))).as("tok"))
          .where(col("tok") =!= "")
        val busy = graft.operators.Sketch.linearCountBuckets(
          toks, "lang", "tok", buckets = 4096)
        val truth = toks.distinct()
          .groupBy("lang").agg(count(lit(1)).as("n_distinct"))
        busy.join(truth, "lang")
          .select(col("lang"), col("busy"), col("n_distinct"))
          .orderBy("lang")
      },
      Some(s"""WITH t AS (SELECT lang, unnest($duckToks) AS tok FROM documents),
        |t2 AS (SELECT lang, tok FROM t WHERE tok <> ''),
        |b AS (SELECT lang, COUNT(*) AS busy FROM (
        |  SELECT DISTINCT lang, CAST('0x'||substr(md5('lc:'||tok),25,8) AS BIGINT) % 4096 AS bk
        |  FROM t2) GROUP BY lang),
        |n AS (SELECT lang, COUNT(*) AS n_distinct FROM (SELECT DISTINCT lang, tok FROM t2) GROUP BY lang)
        |SELECT lang, busy, n_distinct FROM b JOIN n USING (lang)
        |ORDER BY lang""".stripMargin)),

    // HyperLogLog register state per language (Sketch.hllRegisters,
    // p=8 → 256 registers) — the distinct sketch that stays accurate
    // past linear counting's saturation. The full sparse register set is
    // the output: every (lang, bucket, max-rank) row is exact integer
    // arithmetic (rank via bin()-string length = bitLength, identical in
    // both engines), so the driver hash-pins the sketch STATE itself;
    // the transcendental estimate stays driver-side (Sketch.hllEstimate).
    QueryDef("q90_hll_registers",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("lang"), explode(wsTokens(col("text"))).as("tok"))
          .where(col("tok") =!= "")
        graft.operators.Sketch.hllRegisters(toks, "lang", "tok", p = 8)
          .orderBy("lang", "b")
      },
      Some(s"""WITH t AS (SELECT lang, unnest($duckToks) AS tok FROM documents),
        |h AS (SELECT DISTINCT lang,
        |        CAST('0x'||substr(md5('hll:'||tok),18,15) AS BIGINT) AS h
        |      FROM t WHERE tok <> '')
        |SELECT lang, h % 256 AS b,
        |  CAST(MAX(CASE WHEN h // 256 = 0 THEN 53
        |                ELSE 52 - length(bin(h // 256)) + 1 END) AS BIGINT) AS reg
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Histogram-sketch percentile: per-lang p95 of document length read
    // off a 64-bucket equi-width histogram over [0, 1024) — state is
    // ≤ 64 rows per group whatever the corpus size, bucket counts are
    // Long monoids (the sketch rides Ivm merges/streaming unchanged),
    // and both the bucketing and the p95 cutoff are integer arithmetic
    // (cum·100 ≥ total·95), so sketch AND answer hash-match. The
    // conservative upper-edge read is "≥95% of docs are ≤ p_edge",
    // error ≤ one bucket width (16 chars).
    QueryDef("q99_hist_percentile",
      (s, d) => {
        val h = graft.operators.Sketch.histogramBuckets(
          Tables.documents(s, d), "lang", "n_chars",
          lo = 0L, hi = 1024L, buckets = 64)
        graft.operators.Sketch.histogramPercentile(h, "lang",
            lo = 0L, hi = 1024L, buckets = 64, pNum = 95, pDen = 100)
          .orderBy("lang")
      },
      Some("""WITH h AS (SELECT lang, greatest(0, least(63, (n_chars * 64) // 1024)) AS bucket,
        |    COUNT(*) AS n FROM documents GROUP BY 1, 2),
        |c AS (SELECT lang, bucket,
        |    SUM(n) OVER (PARTITION BY lang ORDER BY bucket ASC ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(n) OVER (PARTITION BY lang) AS total FROM h),
        |q AS (SELECT lang, MIN(bucket) AS bucket FROM c WHERE cum * 100 >= total * 95 GROUP BY lang)
        |SELECT lang, CAST(((bucket + 1) * 1024) // 64 AS BIGINT) AS p_edge
        |FROM q ORDER BY lang""".stripMargin)),

    // Canonical-key exact dedup (CCNet normalization): lowercase +
    // punctuation/whitespace-insensitive key, so re-cased or
    // re-punctuated republications of the same content collide — the
    // normalization pass byte-level q15 deliberately lacks. DuckDB's
    // regexp_replace needs the 'g' flag to match Spark's global default.
    QueryDef("q144_exact_canonical",
      (s, d) => graft.operators.Dedup.exactCanonical(
          Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""SELECT min(doc_id) AS doc_id,
        |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS canon,
        |  CAST(COUNT(*) AS BIGINT) AS group_size
        |FROM documents GROUP BY 2 ORDER BY doc_id""".stripMargin)),

    // Blocklist content filter: distinct-pattern hit counts per source
    // via ONE Aho-Corasick pass per document (codegen expression, the
    // automaton compiled once driver-side) — |patterns|-independent scan
    // cost, vs the oracle's per-pattern contains() which IS the naive
    // O(|patterns| x |text|) spec the automaton must agree with.
    // Multi-word patterns exercise cross-token substring semantics.
    QueryDef("q141_blocklist_scan",
      (s, d) => {
        val bl = Seq("slow", "error", "window", "big vector", "scan scan")
        Tables.documents(s, d)
          .select(col("source"),
            graft.functions.expressions.BlocklistMatches
              .column(col("text"), bl).as("hits"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
            sum(col("hits").cast("long")).as("sum_hits"))
          .orderBy("source")
      },
      Some("""WITH h AS (SELECT source, CAST(len(list_filter(
        |    ['slow', 'error', 'window', 'big vector', 'scan scan'],
        |    p -> contains(text, p))) AS INT) AS hits FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(hits) AS BIGINT) AS sum_hits
        |FROM h GROUP BY source ORDER BY source""".stripMargin)),

    // Incremental-percentile view: the q99 histogram as IVM state — the
    // corpus is split in half, each half's dense per-lang bucket-count
    // array is built independently (Ivm.aggState histSpec), the two
    // states MERGE (bucket-wise sum monoid), and the merged view's
    // bucket rows must hash-match a from-scratch full-corpus histogram.
    // This is the artifact a nightly pipeline refreshes in O(delta):
    // percentile/MAD readers (q99/q100) run unchanged on the view.
    QueryDef("q138_ivm_percentile",
      (s, d) => {
        import graft.operators.Ivm
        val docs = Tables.documents(s, d)
        val spec = Some((0L, 1024L, 64))
        val merged = Ivm.mergeStates(Seq(
          Ivm.aggState(docs.where(col("doc_id") % 2 === 0), Seq("lang"),
            "n_chars", histSpec = spec),
          Ivm.aggState(docs.where(col("doc_id") % 2 === 1), Seq("lang"),
            "n_chars", histSpec = spec)), Seq("lang"))
        Ivm.histogramOf(merged, Seq("lang"))
          .orderBy("lang", "bucket")
      },
      Some("""SELECT lang, greatest(0, least(63, (n_chars * 64) // 1024)) AS bucket,
        |  COUNT(*) AS n FROM documents GROUP BY 1, 2
        |ORDER BY lang, bucket""".stripMargin)),

    // RAG / long-document chunking: fixed 200-char windows, 150-char
    // stride (50 overlap) — the retrieval-corpus preparation stage. Pure
    // substring arithmetic (TextFunctions.charWindows), one narrow
    // explode, no shuffle before the output sort; at 100 TB this is a
    // map-only pass whose output is ~len/stride rows per doc.
    QueryDef("q86_rag_chunks",
      (s, d) => Tables.documents(s, d)
        .where(col("doc_id") < 100)
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.charWindows(
            col("text"), size = 200, stride = 150)).as("w"))
        .select(col("doc_id"), col("w.idx").as("idx"),
          col("w.chunk").as("chunk"))
        .orderBy(col("doc_id"), col("idx")),
      Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |c AS (SELECT doc_id, i AS idx,
        |        substr(text, CAST(i*150 + 1 AS INT), 200) AS chunk
        |      FROM (SELECT doc_id, text,
        |              unnest(range(0, greatest(1, (length(text)-1)//150 + 1))) AS i
        |            FROM d))
        |SELECT doc_id, CAST(idx AS BIGINT) AS idx, chunk
        |FROM c ORDER BY doc_id, idx""".stripMargin)),

    // END-TO-END embedding dedup — the full curation DELETE in one plan:
    // bucketed cosine pairs (q37's IVF-cell equi-join, never n²) above a
    // near-dup threshold (0.4 — calibrated to this fixture's
    // near-orthogonal embeddings, where in-cell cosine tops out ~0.49;
    // a real corpus would sit at ~0.9) → connected components →
    // keepClusterSurvivors anti-join; output = the rows a curation run
    // would REMOVE (everything in a cluster except its min-id survivor).
    // Oracle = the same pair SQL + a recursive CTE closure, like q64.
    QueryDef("q87_corpus_dedup_e2e",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val pairs = Dedup.cosinePairsInCells(emb, "vec_id", "embedding",
            emb.where(col("vec_id") < 8)
              .select(col("vec_id").as("cid"), col("embedding").as("ce")))
          .where(col("cos_sim") >= 0.4)
        val survivors = Graph.keepClusterSurvivors(emb, "vec_id",
          pairs, "a", "b")
        emb.join(survivors.select("vec_id"), Seq("vec_id"), "left_anti")
          .select(col("vec_id"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH RECURSIVE c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
        |asg AS (SELECT vec_id, embedding, cid,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
        |  FROM (SELECT e.vec_id, e.embedding, c.cid, ${duckL2Zip.format("e.embedding", "c.ce")} AS d FROM embeddings e, c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) = 1),
        |p AS (SELECT x.vec_id AS a, y.vec_id AS b
        |  FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
        |  WHERE ${duckDotZip.format("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= 0.4),
        |e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
        |reach(id, r) AS (
        |  SELECT a AS id, a AS r FROM e
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b),
        |cc AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
        |SELECT id AS vec_id FROM cc WHERE id <> component ORDER BY vec_id""".stripMargin)),

    // The BPE merge LOOP itself, oracle-pinned: the Spark side is the real
    // trainer (Bpe.train — the same driver loop as q56) truncated to 3
    // merges; the oracle UNROLLS 3 iterations of (pair-count → argmax →
    // apply-merge) in SQL. Merge application uses a wrapped-symbol string
    // (each symbol as chr(1)||sym||chr(2) — delimiters provably absent
    // from the corpus charset) where SQL replace()'s left-to-right
    // non-overlapping scan IS BPE's greedy fusion semantics, including
    // the a==b run case ("aaa" → ["aa","a"]). Same vocab cut, same
    // (count desc, pair asc) tie-break, same minPairCount>=2 guard as
    // the trainer, so rank-by-rank the rows are the loop's argmax trace.
    // q83 pins round-zero pair counts; this pins rounds 1-3 — together
    // the only unpinned trainer surface left is deep-round scheduling,
    // which BpeSpec property-pins (incremental ≡ naive recount).
    QueryDef("q88_bpe_merge_loop",
      (s, d) => {
        import s.implicits._
        graft.operators.Bpe.train(Tables.documents(s, d), "text", numMerges = 3)
          .zipWithIndex.map { case (m, i) => (i, m.a, m.b) }
          .toDF("rk", "a", "b").orderBy("rk")
      },
      Some(s"""WITH toks AS (SELECT unnest($duckToks) AS word FROM documents),
        |wc AS (SELECT word, COUNT(*) AS cnt FROM toks WHERE word <> ''
        |       GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 65536),
        |s0 AS (SELECT cnt, array_to_string(list_transform(range(1, length(word)+1),
        |         i -> chr(1)||substr(word, CAST(i AS INT), 1)||chr(2)), '') AS s FROM wc),
        |p1 AS (SELECT a, b, SUM(cnt) AS pc FROM (
        |    SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT)+1] AS b, cnt FROM (
        |      SELECT cnt, l, unnest(range(1, len(l))) AS i FROM (
        |        SELECT cnt, string_split(substr(s, 2, length(s)-2), chr(2)||chr(1)) AS l FROM s0)))
        |  GROUP BY a, b HAVING SUM(cnt) >= 2),
        |m1 AS (SELECT a, b FROM p1 ORDER BY pc DESC, a ASC, b ASC LIMIT 1),
        |s1 AS (SELECT cnt, replace(s, chr(1)||m1.a||chr(2)||chr(1)||m1.b||chr(2),
        |         chr(1)||m1.a||m1.b||chr(2)) AS s FROM s0, m1),
        |p2 AS (SELECT a, b, SUM(cnt) AS pc FROM (
        |    SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT)+1] AS b, cnt FROM (
        |      SELECT cnt, l, unnest(range(1, len(l))) AS i FROM (
        |        SELECT cnt, string_split(substr(s, 2, length(s)-2), chr(2)||chr(1)) AS l FROM s1)))
        |  GROUP BY a, b HAVING SUM(cnt) >= 2),
        |m2 AS (SELECT a, b FROM p2 ORDER BY pc DESC, a ASC, b ASC LIMIT 1),
        |s2 AS (SELECT cnt, replace(s, chr(1)||m2.a||chr(2)||chr(1)||m2.b||chr(2),
        |         chr(1)||m2.a||m2.b||chr(2)) AS s FROM s1, m2),
        |p3 AS (SELECT a, b, SUM(cnt) AS pc FROM (
        |    SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT)+1] AS b, cnt FROM (
        |      SELECT cnt, l, unnest(range(1, len(l))) AS i FROM (
        |        SELECT cnt, string_split(substr(s, 2, length(s)-2), chr(2)||chr(1)) AS l FROM s2)))
        |  GROUP BY a, b HAVING SUM(cnt) >= 2),
        |m3 AS (SELECT a, b FROM p3 ORDER BY pc DESC, a ASC, b ASC LIMIT 1)
        |SELECT rk, a, b FROM (
        |  SELECT 0 AS rk, a, b FROM m1
        |  UNION ALL SELECT 1 AS rk, a, b FROM m2
        |  UNION ALL SELECT 2 AS rk, a, b FROM m3) ORDER BY rk""".stripMargin)),

    // Corpus-conditioned bigram familiarity (LmScore) — the CCNet-style
    // LM quality signal in exact-integer form: familiarity = Σ corpus
    // frequency over the doc's bigrams, hapax = bigrams occurring nowhere
    // else. Kept as counts (not log-perplexity) so both engines compute
    // identical integers — no libm log() parity hazard. The oracle zips
    // unnest(t) with unnest(t[2:]) (DuckDB pads the shorter with NULL)
    // to form the same consecutive pairs the Spark side derives
    // row-locally from the token array.
    QueryDef("q89_bigram_novelty",
      (s, d) => graft.operators.LmScore.noveltyStats(
          Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, tok || ' ' || next_tok AS bigram FROM (
        |    SELECT doc_id, unnest(t) AS tok, unnest(t[2:]) AS next_tok FROM toks
        |  ) WHERE next_tok IS NOT NULL),
        |bc AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram)
        |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(bc.cnt) AS BIGINT) AS familiarity,
        |  CAST(SUM(CASE WHEN bc.cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |FROM bg JOIN bc USING (bigram) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CCNet perplexity-tier partition (Wenzek et al. 2020): head/middle/
    // tail thirds by the q89 familiarity score (exact floor-milli), tier
    // boundaries as VALUE CUTOFFS from an exact integer histogram —
    // equal scores share a tier, the corpus never crosses a global sort
    // (the q99 discipline), and "keep head+middle" is then one CASE
    // filter. Oracle re-derives scores, cumulative histogram, cutoffs
    // and the CASE independently.
    QueryDef("q160_perplexity_tiers",
      (s, d) => graft.operators.LmScore.perplexityTiers(
          Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, tok || ' ' || next_tok AS bigram FROM (
        |    SELECT doc_id, unnest(t) AS tok, unnest(t[2:]) AS next_tok FROM toks
        |  ) WHERE next_tok IS NOT NULL),
        |bc AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram),
        |st AS (SELECT bg.doc_id, COUNT(*) AS nb, SUM(bc.cnt) AS fam
        |       FROM bg JOIN bc USING (bigram) GROUP BY 1),
        |sc AS (SELECT doc_id, CAST((fam * 1000) // nb AS BIGINT) AS lm_milli FROM st),
        |h AS (SELECT lm_milli, COUNT(*) AS c FROM sc GROUP BY 1),
        |cm AS (SELECT lm_milli, SUM(c) OVER (ORDER BY lm_milli ASC
        |       ROWS UNBOUNDED PRECEDING) AS cum FROM h),
        |tot AS (SELECT COUNT(*) AS n FROM sc),
        |cut AS (SELECT min(CASE WHEN cum*3 >= n THEN lm_milli END) AS t1,
        |               min(CASE WHEN cum*3 >= 2*n THEN lm_milli END) AS t2
        |        FROM cm, tot)
        |SELECT sc.doc_id, sc.lm_milli,
        |  CASE WHEN sc.lm_milli <= cut.t1 THEN 'tail'
        |       WHEN sc.lm_milli <= cut.t2 THEN 'middle'
        |       ELSE 'head' END AS tier
        |FROM sc, cut ORDER BY sc.doc_id""".stripMargin)),

    QueryDef("q84_ann_nsw",
      (s, d) => graft.operators.Nsw.nswTopK(
        Tables.embeddings(s, d).repartition(8, col("vec_id")),
        "vec_id", "embedding", queryId = 0L, k = 5,
        m = 8, efConstruction = 32, efSearch = 1 << 22),
      Some(s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, ${duckL2Zip.format("e.embedding", "q.qe")} AS score
        |FROM embeddings e, q
        |ORDER BY score ASC, vec_id ASC LIMIT 5""".stripMargin)),

    // Vocabulary-growth (Heaps'-law) curve: cumulative distinct-token
    // count after each 100-document prefix — the tokenizer-training /
    // curation diagnostic for "is this corpus still producing new
    // vocabulary or is it template-saturated". Per-token first-document
    // is one map-side-combinable hash-agg; the window runs over the tiny
    // bucket relation only.
    QueryDef("q109_vocab_growth",
      (s, d) => graft.operators.Profile.vocabGrowth(
          Tables.documents(s, d), "doc_id", "text", bucketDocs = 100)
        .orderBy("bucket"),
      Some(s"""WITH t AS (SELECT doc_id, unnest(list_distinct($duckToks)) AS tok FROM documents),
        |f AS (SELECT tok, MIN(doc_id) AS first_doc FROM t WHERE tok <> '' GROUP BY tok),
        |b AS (SELECT first_doc // 100 AS bucket, COUNT(*) AS new_tokens FROM f GROUP BY 1)
        |SELECT bucket, new_tokens,
        |  CAST(SUM(new_tokens) OVER (ORDER BY bucket ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
        |FROM b ORDER BY bucket""".stripMargin)),

    // IDF-weighted shared-term pairs (Dedup.idfOverlapPairs): the "rare
    // words in common" document-pair signal with an INTEGER idf
    // surrogate (N div df — log-idf is not bit-stable cross-engine;
    // divergence documented at the operator). Only df ≤ 20 terms enter
    // the inverted-index join — the cap cuts cost exactly where idf
    // weight is weakest, so the capped join IS the full-signal answer.
    QueryDef("q110_idf_overlap",
      (s, d) => graft.operators.Dedup.idfOverlapPairs(
          Tables.documents(s, d), "doc_id", "text", maxDocFreq = 20)
        .orderBy(col("score").desc, col("a").asc, col("b").asc)
        .limit(20),
      Some(s"""WITH t AS (SELECT DISTINCT doc_id, CAST('0x'||substr(md5(tok),18,15) AS BIGINT) AS tok
        |  FROM (SELECT doc_id, unnest(list_distinct($duckToks)) AS tok FROM documents)
        |  WHERE tok <> ''),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |r AS (SELECT tok, COUNT(*) AS dfreq FROM t GROUP BY tok
        |      HAVING COUNT(*) <= 20 AND COUNT(*) >= 2),
        |w AS (SELECT tok, (n_docs // dfreq) * (n_docs // dfreq) AS w2 FROM r, n),
        |i AS (SELECT t.doc_id, t.tok, w.w2 FROM t JOIN w USING (tok)),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, CAST(SUM(x.w2) AS BIGINT) AS score
        |  FROM i x JOIN i y ON x.tok = y.tok AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT a, b, score FROM p
        |ORDER BY score DESC, a ASC, b ASC LIMIT 20""".stripMargin)),

    // Set-F1 verification over winnow candidates (Dedup.winnowF1Pairs):
    // candidates from q97's capped fingerprint join (never all pairs),
    // verified as exact 5-gram-set F1 = 2·|A∩B|/(|A|+|B|) — one exact
    // division of exact Longs, so the REPORT metric (how much overlap)
    // hash-matches, not just the pair list. The dedup-audit companion
    // to q97's yes/no.
    QueryDef("q111_winnow_f1",
      (s, d) => graft.operators.Dedup.winnowF1Pairs(
          Tables.documentsPar(s, d), "doc_id", "text", k = 5, w = 4,
          maxDocFreq = 20, minShared = 2L)
        .orderBy(col("f1").desc, col("a").asc, col("b").asc)
        .limit(20),
      Some("""WITH d0 AS (SELECT doc_id, text, greatest(length(text) - 4, 1) AS n FROM documents),
        |g0 AS (SELECT doc_id, n, list_transform(range(0, n), i ->
        |    CAST('0x' || substr(md5(substr(text, CAST(i + 1 AS INT), 5)), 25, 8) AS BIGINT) * 1048576 + i + 1) AS hps
        |  FROM d0),
        |g AS (SELECT doc_id, n, CAST(generate_subscripts(hps, 1) AS BIGINT) AS pos, unnest(hps) AS hp FROM g0),
        |win AS (SELECT doc_id, n, pos, min(hp) OVER (PARTITION BY doc_id ORDER BY pos ASC
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM g),
        |f AS (SELECT DISTINCT doc_id, fp // 1048576 AS h FROM win WHERE pos <= greatest(n - 3, 1)),
        |cool AS (SELECT h FROM f GROUP BY h HAVING COUNT(DISTINCT doc_id) <= 20),
        |kk AS (SELECT doc_id, f.h FROM f JOIN cool USING (h)),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared
        |  FROM kk x JOIN kk y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2),
        |sets AS (SELECT doc_id, list_distinct(list_transform(range(0, greatest(length(text) - 4, 1)),
        |    i -> CAST('0x' || substr(md5(substr(text, CAST(i + 1 AS INT), 5)), 25, 8) AS BIGINT))) AS st
        |  FROM documents),
        |v AS (SELECT p.a, p.b,
        |    CAST(len(list_intersect(x.st, y.st)) AS BIGINT) AS inter,
        |    CAST(len(x.st) AS BIGINT) AS na, CAST(len(y.st) AS BIGINT) AS nb
        |  FROM p JOIN sets x ON x.doc_id = p.a JOIN sets y ON y.doc_id = p.b
        |  WHERE p.n_shared >= 2)
        |SELECT a, b, inter, 2 * inter / (na + nb) AS f1 FROM v
        |ORDER BY f1 DESC, a ASC, b ASC LIMIT 20""".stripMargin)),

    // Contrastive triplet mining (Contrastive.triplets): for each anchor
    // (vec_id < 4), the 5 nearest corpus vectors of a DIFFERENT label
    // (hard negatives — the gradient-rich half of a triplet loss) plus
    // the single farthest SAME-label vector (the hardest positive the
    // margin must still pull in). One corpus pass: anchors broadcast,
    // negatives reduce map-side through the KNN heap, the positive is a
    // max(struct) hash-agg — no per-anchor corpus materialization.
    QueryDef("q112_triplet_mining",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        graft.operators.Contrastive.triplets(
          emb, emb.where(col("vec_id") < 4),
          "vec_id", "embedding", "label", "vec_id", "embedding", "label", k = 5)
      },
      Some(s"""WITH a AS (SELECT vec_id AS qid, embedding AS qe, label AS ql FROM embeddings WHERE vec_id < 4),
        |neg AS (SELECT qid, 'neg' AS role, id, score FROM (
        |    SELECT a.qid AS qid, e.vec_id AS id, ${duckL2Zip.format("e.embedding", "a.qe")} AS score
        |    FROM embeddings e, a WHERE e.label <> a.ql)
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score ASC, id ASC) <= 5),
        |pos AS (SELECT qid, 'pos' AS role, id, score FROM (
        |    SELECT a.qid AS qid, e.vec_id AS id, ${duckL2Zip.format("e.embedding", "a.qe")} AS score
        |    FROM embeddings e, a WHERE e.label = a.ql AND e.vec_id <> a.qid)
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, id DESC) = 1)
        |SELECT qid, role, id, score FROM (SELECT * FROM neg UNION ALL SELECT * FROM pos)
        |ORDER BY qid ASC, role ASC, score ASC, id ASC""".stripMargin)),

    // Zipf coverage curve (Profile.zipfCoverage): fraction of total token
    // MASS the top-k types cover, k in {10, 100, 1000} — the number that
    // sizes a tokenizer vocabulary, companion to q109's type-count curve.
    // Top-k types via a distributed TakeOrderedAndProject (never a global
    // vocab sort); the ranking window sees max-k rows only.
    QueryDef("q113_zipf_coverage",
      (s, d) => graft.operators.Profile.zipfCoverage(
        Tables.documents(s, d), "text", Seq(10L, 100L, 1000L)),
      Some(s"""WITH t AS (SELECT unnest($duckToks) AS tok FROM documents),
        |c AS (SELECT tok, COUNT(*) AS cnt FROM t WHERE tok <> '' GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_cnt FROM c),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank FROM c),
        |k AS (SELECT unnest([10, 100, 1000]) AS k)
        |SELECT CAST(k.k AS BIGINT) AS k, CAST(SUM(r.cnt) AS BIGINT) AS top_cnt, tot.total_cnt,
        |  CAST(CAST(SUM(r.cnt) AS BIGINT) AS DOUBLE) / CAST(tot.total_cnt AS DOUBLE) AS coverage
        |FROM r JOIN k ON r.rank <= k.k, tot GROUP BY k.k, tot.total_cnt ORDER BY k""".stripMargin)),

    // Gopher-style quality rule-pack (Quality.rejectionReport): hard
    // boolean gates (length / mean-word-length / symbol-ratio / stopword
    // presence, Rae et al. 2021 §A1.1) over exact integers, aggregated
    // into the per-source rejection matrix a curator reads before
    // committing a mixture. The FILTER stage; q22 is the soft SCORE.
    QueryDef("q114_quality_rules",
      (s, d) => graft.operators.Quality.rejectionReport(
        Tables.documents(s, d), "source", "text"),
      Some(s"""WITH t AS (SELECT source, text, $duckToks AS toks FROM documents),
        |m AS (SELECT source,
        |  CAST(length(toks) AS BIGINT) AS n_tok,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
        |  CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS n_sym,
        |  CAST(${duckMarker(Seq("the", "a", "is", "of", "and"))} AS BIGINT) AS c_stop,
        |  CAST(length(text) AS BIGINT) AS len FROM t),
        |f AS (SELECT source,
        |  (n_tok >= 15 AND n_tok <= 500) AS pass_len,
        |  (3 * n_tok <= sum_len AND sum_len <= 8 * n_tok) AS pass_wordlen,
        |  (100 * len > 1000 * n_sym) AS pass_symbol,
        |  (c_stop >= 1) AS pass_stop FROM m)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN pass_len AND pass_wordlen AND pass_symbol AND pass_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(SUM(CASE WHEN pass_len THEN 0 ELSE 1 END) AS BIGINT) AS fail_len,
        |  CAST(SUM(CASE WHEN pass_wordlen THEN 0 ELSE 1 END) AS BIGINT) AS fail_wordlen,
        |  CAST(SUM(CASE WHEN pass_symbol THEN 0 ELSE 1 END) AS BIGINT) AS fail_symbol,
        |  CAST(SUM(CASE WHEN pass_stop THEN 0 ELSE 1 END) AS BIGINT) AS fail_stop
        |FROM f GROUP BY source ORDER BY source""".stripMargin)),

    // Length-bucketed batching padding audit: per language, fixed
    // batches of 8 docs padded to the batch max token count — the wasted
    // pad tokens under LENGTH-SORTED batching vs ARRIVAL (doc_id) order,
    // and the saving sorting buys. The measurement behind "bucket by
    // length before batching" in every training dataloader; q44 PACKS
    // greedily, this one QUANTIFIES the padding economics. All Longs:
    // pad(batch) = count·max(n_tok) − Σ n_tok. Two per-lang window
    // passes + tiny hash-aggs; no corpus-wide sort.
    QueryDef("q115_padding_waste",
      (s, d) => {
        val toked = Tables.documents(s, d)
          .select(col("lang"), col("doc_id"),
            size(wsTokens(col("text"))).cast("long").as("n_tok"))
        def pads(tag: String, order: Seq[org.apache.spark.sql.Column]) = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang")).orderBy(order: _*)
          toked.withColumn("rn", row_number().over(w))
            .withColumn("batch", expr("(rn - 1) div 8"))
            .groupBy("lang", "batch")
            .agg((count(lit(1)) * max(col("n_tok")) - sum(col("n_tok"))).as("pad"))
            .groupBy("lang")
            .agg(count(lit(1)).as("n_batches"), sum(col("pad")).as(tag))
        }
        val sorted = pads("pad_sorted", Seq(col("n_tok").desc, col("doc_id").asc))
        val arrival = pads("pad_arrival", Seq(col("doc_id").asc))
          .drop("n_batches")
        sorted.join(arrival, "lang")
          .select(col("lang"), col("n_batches"), col("pad_sorted"),
            col("pad_arrival"),
            (col("pad_arrival") - col("pad_sorted")).as("saving"))
          .orderBy("lang")
      },
      Some(s"""WITH t AS (SELECT lang, doc_id, CAST(length($duckToks) AS BIGINT) AS n_tok FROM documents),
        |srt AS (SELECT lang, n_tok, (row_number() OVER (PARTITION BY lang ORDER BY n_tok DESC, doc_id ASC) - 1) // 8 AS batch FROM t),
        |arr AS (SELECT lang, n_tok, (row_number() OVER (PARTITION BY lang ORDER BY doc_id ASC) - 1) // 8 AS batch FROM t),
        |sb AS (SELECT lang, batch, CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS BIGINT) AS pad FROM srt GROUP BY 1, 2),
        |ab AS (SELECT lang, batch, CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS BIGINT) AS pad FROM arr GROUP BY 1, 2),
        |sg AS (SELECT lang, COUNT(*) AS n_batches, CAST(SUM(pad) AS BIGINT) AS pad_sorted FROM sb GROUP BY lang),
        |ag AS (SELECT lang, CAST(SUM(pad) AS BIGINT) AS pad_arrival FROM ab GROUP BY lang)
        |SELECT sg.lang, sg.n_batches, sg.pad_sorted, ag.pad_arrival,
        |  ag.pad_arrival - sg.pad_sorted AS saving
        |FROM sg JOIN ag ON sg.lang = ag.lang ORDER BY sg.lang""".stripMargin)),

    // DIRECTED containment / quote detection (Dedup.containmentPairs):
    // q97's winnow candidates judged in BOTH directions as exact
    // k-gram-set containment |src∩dst| / |src| — the asymmetric signal
    // q111's F1 washes out (a short doc pasted in a long one scores ~1.0
    // src→dst only). Gate is a cross-multiplied Long comparison
    // (1000·inter >= 500·|src|); the division happens once, at output.
    QueryDef("q118_containment",
      (s, d) => graft.operators.Dedup.containmentPairs(
          Tables.documentsPar(s, d), "doc_id", "text", k = 5, w = 4,
          maxDocFreq = 20, minShared = 2L, minMille = 500L)
        .orderBy(col("containment").desc, col("src").asc, col("dst").asc)
        .limit(20),
      Some("""WITH d0 AS (SELECT doc_id, text, greatest(length(text) - 4, 1) AS n FROM documents),
        |g0 AS (SELECT doc_id, n, list_transform(range(0, n), i ->
        |    CAST('0x' || substr(md5(substr(text, CAST(i + 1 AS INT), 5)), 25, 8) AS BIGINT) * 1048576 + i + 1) AS hps
        |  FROM d0),
        |g AS (SELECT doc_id, n, CAST(generate_subscripts(hps, 1) AS BIGINT) AS pos, unnest(hps) AS hp FROM g0),
        |win AS (SELECT doc_id, n, pos, min(hp) OVER (PARTITION BY doc_id ORDER BY pos ASC
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM g),
        |f AS (SELECT DISTINCT doc_id, fp // 1048576 AS h FROM win WHERE pos <= greatest(n - 3, 1)),
        |cool AS (SELECT h FROM f GROUP BY h HAVING COUNT(DISTINCT doc_id) <= 20),
        |kk AS (SELECT doc_id, f.h FROM f JOIN cool USING (h)),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared
        |  FROM kk x JOIN kk y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2),
        |sets AS (SELECT doc_id, list_distinct(list_transform(range(0, greatest(length(text) - 4, 1)),
        |    i -> CAST('0x' || substr(md5(substr(text, CAST(i + 1 AS INT), 5)), 25, 8) AS BIGINT))) AS st
        |  FROM documents),
        |v AS (SELECT p.a, p.b,
        |    CAST(len(list_intersect(x.st, y.st)) AS BIGINT) AS inter,
        |    CAST(len(x.st) AS BIGINT) AS na, CAST(len(y.st) AS BIGINT) AS nb
        |  FROM p JOIN sets x ON x.doc_id = p.a JOIN sets y ON y.doc_id = p.b
        |  WHERE p.n_shared >= 2),
        |dirs AS (SELECT a AS src, b AS dst, inter, na AS n_src FROM v
        |  UNION ALL SELECT b AS src, a AS dst, inter, nb AS n_src FROM v)
        |SELECT src, dst, inter, n_src,
        |  CAST(inter AS DOUBLE) / CAST(n_src AS DOUBLE) AS containment
        |FROM dirs WHERE 1000 * inter >= 500 * n_src
        |ORDER BY containment DESC, src ASC, dst ASC LIMIT 20""".stripMargin)),

    // Classifier evaluation at corpus scale: q21's language-ID run
    // against the labeled lang column as a CONFUSION MATRIX — one extra
    // hash-agg over the prediction relation, the model-eval primitive
    // (per-class precision/recall fall out of the matrix row/column
    // sums). Counts only, so the report is bit-portable.
    QueryDef("q119_langid_confusion",
      (s, d) => {
        val toked = Tables.documents(s, d)
          .select(col("lang"), wsTokens(col("text")).as("toks"))
        val counts = LangMarkers.map { case (lang, words) =>
          markerCount(col("toks"), words).as(s"c_$lang")
        }
        val df = toked.select(col("lang") +: counts: _*)
        val pred = when(col("c_en") >= col("c_de") && col("c_en") >= col("c_es") &&
            col("c_en") >= col("c_fr") && col("c_en") >= col("c_zh"), "en")
          .when(col("c_de") >= col("c_es") && col("c_de") >= col("c_fr") &&
            col("c_de") >= col("c_zh"), "de")
          .when(col("c_es") >= col("c_fr") && col("c_es") >= col("c_zh"), "es")
          .when(col("c_fr") >= col("c_zh"), "fr")
          .otherwise("zh")
        df.select(col("lang"), pred.as("pred_lang"))
          .groupBy("lang", "pred_lang").agg(count(lit(1)).as("cnt"))
          .orderBy("lang", "pred_lang")
      },
      Some(s"""WITH t AS (SELECT lang, $duckToks AS toks FROM documents),
        |c AS (SELECT lang,
        |  ${duckMarker(Seq("the", "a", "is", "of", "and"))} AS c_en,
        |  ${duckMarker(Seq("der", "die", "und", "ist", "das"))} AS c_de,
        |  ${duckMarker(Seq("el", "la", "de", "los", "que"))} AS c_es,
        |  ${duckMarker(Seq("le", "les", "des", "et", "une"))} AS c_fr,
        |  ${duckMarker(Seq("的", "是", "在", "了", "和"))} AS c_zh
        |  FROM t),
        |p AS (SELECT lang,
        |  CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
        |       WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
        |       WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
        |       WHEN c_fr >= c_zh THEN 'fr'
        |       ELSE 'zh' END AS pred_lang
        |  FROM c)
        |SELECT lang, pred_lang, COUNT(*) AS cnt
        |FROM p GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin)),

    // TF-IDF keyword extraction: top-3 terms per doc (first 20 docs) by
    // tf · (N div df)² — q110's integer idf surrogate applied to the
    // classic per-document keyword report. The df table is corpus-wide
    // (one hash-agg); the tf leg filters to the requested docs BEFORE
    // aggregating; the per-doc ranking is a WindowGroupLimit (top-3
    // pruned below the sort). All Longs until nothing.
    QueryDef("q120_keywords",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tf = docs.where(col("doc_id") < 20)
          .select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
          .where(col("tok") =!= "")
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfr = docs
          .select(explode(array_distinct(wsTokens(col("text")))).as("tok"))
          .where(col("tok") =!= "")
          .groupBy("tok").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("tok").asc)
        tf.join(dfr, "tok").crossJoin(broadcast(nDocs))
          .select(col("doc_id"), col("tok"), col("tf"),
            (col("tf") * expr("n_docs div df") * expr("n_docs div df"))
              .as("score"))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .orderBy("doc_id", "rank")
      },
      Some(s"""WITH tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest($duckToks) AS tok FROM documents WHERE doc_id < 20)
        |  WHERE tok <> '' GROUP BY doc_id, tok),
        |dfr AS (SELECT tok, COUNT(*) AS df FROM (
        |    SELECT doc_id, unnest(list_distinct($duckToks)) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY tok),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.tok, tf.tf,
        |  tf.tf * (n.n_docs // dfr.df) * (n.n_docs // dfr.df) AS score
        |  FROM tf JOIN dfr USING (tok), n)
        |SELECT doc_id, tok, tf, score,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS INT) AS rank
        |FROM sc QUALIFY rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // Leakage-safe train/heldout split: near-dup CLUSTERS (q64's
    // minhash + CC machinery) are the atomic split unit — every member
    // of a duplicate cluster lands on the same side, so the heldout set
    // can never contain a near-copy of a training doc (the eval-
    // contamination failure mode of naive per-doc splitting). The coin
    // is q42's deterministic md5 bucket, thrown on the CLUSTER id.
    QueryDef("q121_leakage_safe_split",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.withMinhashPairs(docs, "doc_id", "text") { pairs =>
          val cc = Graph.connectedComponents(
            pairs.where(col("jac") >= 0.5), "a", "b")
          val clustered = docs.select(col("doc_id"))
            .join(cc.select(col("id").as("doc_id"), col("component")),
              Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("component"), col("doc_id")).as("cluster"))
          val b = graft.functions.TextFunctions.md5Bucket(
            col("cluster").cast("string"), 100, salt = "leak:")
          clustered
            .groupBy(when(b < 80, "train").otherwise("heldout").as("split"))
            .agg(count(lit(1)).as("n_docs"),
              countDistinct(col("cluster")).as("n_clusters"))
            .orderBy("split")
        }
      },
      Some(s"""WITH RECURSIVE sh AS (SELECT doc_id, $duckShingles AS shingles FROM documents),
        |hv AS (SELECT doc_id, shingles, list_transform(shingles, s -> CAST('0x'||substr(md5(s),25,8) AS BIGINT)) AS hs FROM sh),
        |sig AS (SELECT doc_id, list_transform(range(0,16), k -> list_min(list_transform(hs, x -> (x*(2*k+1) + (1000000007*k+17)) % 4294967311))) AS sg FROM hv),
        |bands AS (SELECT doc_id, j AS band_idx,
        |  CAST(sg[4*CAST(j AS INT)+1] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+2] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+3] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+4] AS VARCHAR) AS band_key
        |  FROM sig, range(0,4) t(j)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
        |  ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |pairs AS (SELECT c.a, c.b,
        |  CAST(length(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |    (length(sa.shingles) + length(sb.shingles) - length(list_intersect(sa.shingles, sb.shingles))) AS jac
        |  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b),
        |pr AS (SELECT a, b FROM pairs WHERE jac >= 0.5),
        |e AS (SELECT a, b FROM pr UNION SELECT b AS a, a AS b FROM pr),
        |reach(id, r) AS (
        |  SELECT a AS id, a AS r FROM e
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b),
        |cc AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
        |clu AS (SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
        |bk AS (SELECT cluster,
        |  CAST(CAST('0x' || substr(md5('leak:' || CAST(cluster AS VARCHAR)), 25, 8) AS BIGINT) % 100 AS BIGINT) AS b
        |  FROM clu)
        |SELECT CASE WHEN b < 80 THEN 'train' ELSE 'heldout' END AS split,
        |  COUNT(*) AS n_docs, CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters
        |FROM bk GROUP BY 1 ORDER BY split""".stripMargin)),

    // Overlap-span attribution (Dedup.overlapSpans): WHERE the shared
    // material sits — per winnow-candidate pair, the covering character
    // span of shared fingerprints in EACH doc. The evidence report
    // behind a dedup verdict (and the input to span-level redaction);
    // positions ride the fingerprints winnowing already carries, zero
    // extra text passes.
    QueryDef("q122_overlap_spans",
      (s, d) => graft.operators.Dedup.overlapSpans(
          Tables.documentsPar(s, d), "doc_id", "text", k = 5, w = 4,
          maxDocFreq = 20, minShared = 2L)
        .orderBy(col("n_shared").desc, col("a").asc, col("b").asc)
        .limit(20),
      Some("""WITH d0 AS (SELECT doc_id, text, greatest(length(text) - 4, 1) AS n FROM documents),
        |g0 AS (SELECT doc_id, n, list_transform(range(0, n), i ->
        |    CAST('0x' || substr(md5(substr(text, CAST(i + 1 AS INT), 5)), 25, 8) AS BIGINT) * 1048576 + i + 1) AS hps
        |  FROM d0),
        |g AS (SELECT doc_id, n, CAST(generate_subscripts(hps, 1) AS BIGINT) AS pos, unnest(hps) AS hp FROM g0),
        |win AS (SELECT doc_id, n, pos, min(hp) OVER (PARTITION BY doc_id ORDER BY pos ASC
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM g),
        |f AS (SELECT doc_id, fp // 1048576 AS h, CAST(MIN(fp % 1048576) AS BIGINT) AS gpos
        |  FROM win WHERE pos <= greatest(n - 3, 1) GROUP BY 1, 2),
        |cool AS (SELECT h FROM f GROUP BY h HAVING COUNT(DISTINCT doc_id) <= 20),
        |kk AS (SELECT doc_id, f.h, f.gpos FROM f JOIN cool USING (h)),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared,
        |    MIN(x.gpos) AS a_lo, MAX(x.gpos) + 4 AS a_hi,
        |    MIN(y.gpos) AS b_lo, MAX(y.gpos) + 4 AS b_hi
        |  FROM kk x JOIN kk y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT a, b, n_shared, a_lo, a_hi, b_lo, b_hi FROM p
        |WHERE n_shared >= 2
        |ORDER BY n_shared DESC, a ASC, b ASC LIMIT 20""".stripMargin)),

    // Per-source DATA CARD: the one-row-per-corpus datasheet a curator
    // publishes — volume (docs, tokens), language spread (distinct +
    // modal lang), quality pass count (q114's gates) and exact-dup count
    // (docs minus distinct normalized texts), composed as FOUR tiny
    // hash-aggs equi-joined on source in ONE declarative plan. All
    // integers; every ingredient is an operator already oracle-pinned
    // on its own (q114, q15, q23).
    QueryDef("q126_source_datacard",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val base = docs.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(size(wsTokens(col("text"))).cast("long")).as("sum_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(lower(trim(col("text")))).as("n_uniq"))
        val wTop = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("cnt").desc, col("lang").asc)
        val top = docs.groupBy("source", "lang")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(wTop))
          .where(col("rk") === 1)
          .select(col("source"), col("lang").as("top_lang"))
        val qual = graft.operators.Quality.ruleFlags(docs, "text")
          .groupBy("source")
          .agg(sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
        base.join(top, "source").join(qual, "source")
          .select(col("source"), col("n_docs"), col("sum_tokens"),
            col("n_langs"), col("top_lang"), col("n_pass"),
            (col("n_docs") - col("n_uniq")).as("n_exact_dups"))
          .orderBy("source")
      },
      Some(s"""WITH base AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(length($duckToks)) AS BIGINT) AS sum_tokens,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(COUNT(DISTINCT lower(trim(text))) AS BIGINT) AS n_uniq
        |  FROM documents GROUP BY source),
        |top AS (SELECT source, lang AS top_lang FROM (
        |    SELECT source, lang, COUNT(*) AS cnt,
        |      row_number() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang ASC) AS rk
        |    FROM documents GROUP BY source, lang) WHERE rk = 1),
        |m AS (SELECT source,
        |    CAST(length(toks) AS BIGINT) AS n_tok,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
        |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS n_sym,
        |    CAST(${duckMarker(Seq("the", "a", "is", "of", "and"))} AS BIGINT) AS c_stop,
        |    CAST(length(text) AS BIGINT) AS len
        |  FROM (SELECT source, text, $duckToks AS toks FROM documents)),
        |qual AS (SELECT source, CAST(SUM(CASE WHEN
        |    (n_tok >= 15 AND n_tok <= 500) AND
        |    (3 * n_tok <= sum_len AND sum_len <= 8 * n_tok) AND
        |    (100 * len > 1000 * n_sym) AND (c_stop >= 1)
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_pass FROM m GROUP BY source)
        |SELECT base.source, n_docs, sum_tokens, n_langs, top_lang, n_pass,
        |  n_docs - n_uniq AS n_exact_dups
        |FROM base JOIN top ON top.source = base.source
        |  JOIN qual ON qual.source = base.source
        |ORDER BY base.source""".stripMargin)),

    // Luhn-validated payment-card scrub (r8): candidate 13-19-digit runs
    // by regex, ISO/IEC 7812 checksum as the decisive filter, VALID
    // candidates redacted. No real PANs exist in the fixture, so the
    // corpus is synthesized in-plan from order keys (deterministic
    // 16-digit strings, ~10% pass Luhn — the industry false-positive
    // floor, measured here). Pure row-local codegen lambdas; the oracle
    // replays the checksum digit-by-digit.
    QueryDef("q151_card_scrub",
      (s, d) => {
        // parFloor: the regex+Luhn pass is heavy row-local work over a
        // single-row-group file (one 3.7 s task at sf0.1 unfloored)
        val synth = Tables.parFloor(Tables.orders(s, d))
          .select(col("o_orderpriority"),
          concat(lit("order ref "),
            lpad((col("o_orderkey") % 1000000007L * 1234567L %
              10000000000000000L).cast("string"), 16, "0"),
            lit(" thanks")).as("text"))
        graft.operators.Scrub.scrubCards(synth, "text")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            sum("n_cc_candidates").cast("long").as("n_cands"),
            sum("n_cc_valid").cast("long").as("n_valid"),
            min(when(col("n_cc_valid") > 0, col("cc_redacted")))
              .as("sample_redacted"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH synth AS (SELECT o_orderpriority,
        |  'order ref ' || lpad(CAST(o_orderkey % 1000000007 * 1234567 %
        |     10000000000000000 AS VARCHAR), 16, '0') || ' thanks' AS text
        |  FROM orders),
        |cand AS (SELECT o_orderpriority, text,
        |  regexp_extract(text, '\b\d(?:[ -]?\d){12,18}\b') AS c FROM synth),
        |rv AS (SELECT *, list_reverse(regexp_extract_all(c, '\d')) AS r FROM cand),
        |lv AS (SELECT o_orderpriority, text, c,
        |  (len(r) >= 13 AND
        |    CAST(list_sum(list_transform(range(len(r)), i ->
        |      CASE WHEN i % 2 = 0 THEN CAST(r[CAST(i+1 AS INT)] AS INT)
        |           WHEN CAST(r[CAST(i+1 AS INT)] AS INT) * 2 > 9
        |             THEN CAST(r[CAST(i+1 AS INT)] AS INT) * 2 - 9
        |           ELSE CAST(r[CAST(i+1 AS INT)] AS INT) * 2 END)) AS BIGINT) % 10 = 0)
        |    AS ok
        |  FROM rv),
        |per AS (SELECT o_orderpriority,
        |  CAST(CASE WHEN c <> '' THEN 1 ELSE 0 END AS BIGINT) AS n_cc_candidates,
        |  CAST(CASE WHEN ok THEN 1 ELSE 0 END AS BIGINT) AS n_cc_valid,
        |  -- positional single-site replace: each fixture row has exactly
        |  -- one candidate, so first-match replace == the engine's
        |  -- segment-interleave rebuild (general multi-candidate
        |  -- positional semantics are pinned engine-side in ScrubSpec)
        |  CASE WHEN ok THEN regexp_replace(text, '\b\d(?:[ -]?\d){12,18}\b', '<CC>')
        |       ELSE text END AS cc_redacted
        |  FROM lv)
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(n_cc_candidates) AS BIGINT) AS n_cands,
        |  CAST(SUM(n_cc_valid) AS BIGINT) AS n_valid,
        |  MIN(CASE WHEN n_cc_valid > 0 THEN cc_redacted END) AS sample_redacted
        |FROM per GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // MinHash estimator CALIBRATION (r8): 2-D integer histogram of
    // (signature-agreement count of 16) x (true-Jaccard bucket, exact
    // set arithmetic) over the band-join candidates — the measured
    // answer to "are 16 hashes enough on THIS corpus". The oracle
    // recomputes signatures and true sets with the q64 CTEs; the hash
    // match proves every slot comparison and every exact intersection.
    QueryDef("q152_minhash_calibration",
      (s, d) => graft.operators.Dedup.minhashCalibration(
        Tables.documents(s, d), "doc_id", "text"),
      Some(s"""WITH sh AS (SELECT doc_id, $duckShingles AS shingles FROM documents),
        |hv AS (SELECT doc_id, shingles, list_transform(shingles, s -> CAST('0x'||substr(md5(s),25,8) AS BIGINT)) AS hs FROM sh),
        |sig AS (SELECT doc_id, shingles, list_transform(range(0,16), k -> list_min(list_transform(hs, x -> (x*(2*k+1) + (1000000007*k+17)) % 4294967311))) AS sg FROM hv),
        |bands AS (SELECT doc_id, j AS band_idx,
        |  CAST(sg[4*CAST(j AS INT)+1] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+2] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+3] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+4] AS VARCHAR) AS band_key
        |  FROM sig, range(0,4) t(j)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
        |  ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |m AS (SELECT c.a, c.b,
        |  CAST(list_sum(list_transform(range(0,16), k ->
        |    CASE WHEN sa.sg[CAST(k AS INT)+1] = sb.sg[CAST(k AS INT)+1]
        |      THEN 1 ELSE 0 END)) AS BIGINT) AS est_matches,
        |  CAST(length(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS inter,
        |  CAST(length(sa.shingles) + length(sb.shingles) AS BIGINT) AS szsum
        |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b)
        |SELECT est_matches,
        |  coalesce((inter * 16) // nullif(szsum - inter, 0), 16) AS jac_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Duplicated-SPAN scrub (Lee et al. 2022 ExactSubstr): every
    // OVERLAPPING 8-token window seen >= 2 times anywhere in the corpus
    // is removed except at its earliest (doc·2^20 + pos) occurrence;
    // removed windows union-merge into covering intervals per doc. The
    // overlapping-window twin of q131 — chunk-aligned dedup cannot see a
    // passage re-quoted at an unaligned offset; this catches it. The
    // oracle re-derives windows, first occurrences, island merging and
    // the interval-filtered rebuild independently — hash-match pins the
    // whole policy including the coverage-union edge cases.
    QueryDef("q153_dup_span_scrub",
      (s, d) => Dedup.dupSpanScrub(Tables.documentsPar(s, d), "doc_id", "text",
          n = 8)
        .where(col("doc_id") < 500)
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
        |c AS (SELECT doc_id, toks, list_transform(range(0, greatest(length(toks)-7, 0)),
        |  i -> array_to_string(list_slice(toks, CAST(i+1 AS INT), CAST(i+8 AS INT)), ' ')) AS grams FROM t),
        |e AS (SELECT doc_id, CAST(generate_subscripts(grams, 1) - 1 AS INT) AS pos, unnest(grams) AS gram FROM c),
        |h AS (SELECT doc_id, pos, CAST('0x'||substr(md5(gram),18,15) AS BIGINT) AS gh FROM e),
        |f AS (SELECT gh, min(doc_id*1048576 + pos) AS fo, count(*) AS cnt FROM h GROUP BY gh),
        |rem AS (SELECT h.doc_id, h.pos, h.pos + 8 AS e FROM h JOIN f ON h.gh = f.gh
        |  WHERE f.cnt >= 2 AND h.doc_id*1048576 + h.pos > f.fo),
        |w AS (SELECT doc_id, pos, e, max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM rem),
        |i0 AS (SELECT doc_id, pos, e, CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END AS ni FROM w),
        |i1 AS (SELECT doc_id, pos, e, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM i0),
        |isl AS (SELECT doc_id, isl, min(pos) AS s, max(e) AS en FROM i1 GROUP BY doc_id, isl),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(en - s) AS BIGINT) AS removed_tokens FROM isl GROUP BY doc_id),
        |tp AS (SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS INT) AS tpos, unnest(toks) AS tok FROM t),
        |keep AS (SELECT tp.doc_id, tp.tpos, tp.tok FROM tp WHERE NOT EXISTS
        |  (SELECT 1 FROM isl WHERE isl.doc_id = tp.doc_id AND tp.tpos >= isl.s AND tp.tpos < isl.en)),
        |k AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text FROM keep GROUP BY doc_id)
        |SELECT t.doc_id, CAST(length(t.toks) AS BIGINT) AS n_tokens,
        |  coalesce(d.n_spans, CAST(0 AS BIGINT)) AS n_spans,
        |  coalesce(d.removed_tokens, CAST(0 AS BIGINT)) AS removed_tokens,
        |  coalesce(k.clean_text, '') AS clean_text
        |FROM t LEFT JOIN d USING (doc_id) LEFT JOIN k USING (doc_id)
        |WHERE t.doc_id < 500
        |ORDER BY t.doc_id""".stripMargin)),

    // Span-scrub window calibration — q152's discipline applied to q153:
    // the measured answer to "is n=8 the right dedup window on THIS
    // corpus". One row per candidate n: how many docs lose a span and
    // what fraction of the corpus' tokens the policy would cut — too
    // small an n flags half the corpus (common phrases), too large
    // misses real duplication; the curator reads the elbow. All-integer
    // (floor-milli fraction), three q153 passes + three 4-row aggs.
    QueryDef("q159_span_calibration",
      (s, d) => {
        // parFloor (r16): three dupSpanScrub passes, each a heavy
        // single-task gram+md5 scan unfloored (ProfileOne: six ~2.5 s
        // one-task stages)
        val docs = Tables.documentsPar(s, d)
        Seq(4, 8, 16).map { n =>
          Dedup.dupSpanScrub(docs, "doc_id", "text", n)
            .agg(
              lit(n).cast("long").as("n"),
              count(when(col("n_spans") > 0, 1)).as("docs_affected"),
              sum(col("removed_tokens")).as("total_removed"),
              sum(col("n_tokens")).as("total_tokens"))
        }.reduce(_ union _)
          .withColumn("removed_milli",
            expr("(total_removed * 1000) div total_tokens"))
          .orderBy(col("n"))
      },
      Some(Seq(4, 8, 16).map { n =>
        s"""(WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
          |c AS (SELECT doc_id, toks, list_transform(range(0, greatest(length(toks)-${n - 1}, 0)),
          |  i -> array_to_string(list_slice(toks, CAST(i+1 AS INT), CAST(i+$n AS INT)), ' ')) AS grams FROM t),
          |e AS (SELECT doc_id, CAST(generate_subscripts(grams, 1) - 1 AS INT) AS pos, unnest(grams) AS gram FROM c),
          |h AS (SELECT doc_id, pos, CAST('0x'||substr(md5(gram),18,15) AS BIGINT) AS gh FROM e),
          |f AS (SELECT gh, min(doc_id*1048576 + pos) AS fo, count(*) AS cnt FROM h GROUP BY gh),
          |rem AS (SELECT h.doc_id, h.pos, h.pos + $n AS e FROM h JOIN f ON h.gh = f.gh
          |  WHERE f.cnt >= 2 AND h.doc_id*1048576 + h.pos > f.fo),
          |w AS (SELECT doc_id, pos, e, max(e) OVER (PARTITION BY doc_id ORDER BY pos
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM rem),
          |i0 AS (SELECT doc_id, pos, e, CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END AS ni FROM w),
          |i1 AS (SELECT doc_id, pos, e, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM i0),
          |isl AS (SELECT doc_id, isl, min(pos) AS s, max(e) AS en FROM i1 GROUP BY doc_id, isl)
          |SELECT CAST($n AS BIGINT) AS n,
          |  CAST((SELECT count(DISTINCT doc_id) FROM isl) AS BIGINT) AS docs_affected,
          |  CAST(coalesce((SELECT sum(en - s) FROM isl), 0) AS BIGINT) AS total_removed,
          |  CAST((SELECT sum(length(toks)) FROM t) AS BIGINT) AS total_tokens,
          |  (CAST(coalesce((SELECT sum(en - s) FROM isl), 0) AS BIGINT) * 1000)
          |    // CAST((SELECT sum(length(toks)) FROM t) AS BIGINT) AS removed_milli)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY n"))),

    // Tokenizer fertility per language: the vocabulary-sizing diagnostic
    // a multilingual data team reads before fixing a merge budget — BPE
    // tokens per whitespace word and chars per BPE token, by lang, under
    // the corpus-trained 8-merge table (q56's trainer, q132's in-plan
    // apply with lang/denominator columns RIDING the tokenize projection,
    // so the whole thing is one scan + one |langs|-row hash-agg; no
    // doc_id join shuffle). Ratios are exact floor-milli integers.
    QueryDef("q154_tokenizer_fertility",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = graft.operators.Bpe.train(docs, "text", numMerges = 8)
        val pre = docs.select(col("doc_id"), col("text"), col("lang"),
          col("n_chars").cast("long").as("nc"),
          size(wsTokens(col("text"))).cast("long").as("nw"))
        graft.operators.Bpe.tokenizeInPlan(pre, "doc_id", "text", merges,
            keepCols = Seq("lang", "nc", "nw"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nc")).as("sum_chars"),
            sum(col("nw")).as("sum_ws_tokens"),
            sum(col("n_bpe_tokens")).as("sum_bpe_tokens"))
          .withColumn("fertility_milli",
            expr("(sum_bpe_tokens * 1000) div sum_ws_tokens"))
          .withColumn("chars_per_token_milli",
            expr("(sum_chars * 1000) div sum_bpe_tokens"))
          .orderBy(col("lang"))
      },
      Some(fertilityOracle(8))),

    // SemDeDup (Abbas et al. 2023): embedding-space semantic pruning —
    // nearest-centroid cells (q37's deterministic blocking), cosine >=
    // 0.4 pairs ONLY within a cell, duplicate groups = connected
    // components of the pair graph (q64's machinery), keep the member
    // LEAST similar to its cell centroid (the paper's diversity-
    // preserving policy, ties to min id). The oracle re-derives the
    // assignment, the pair graph, the recursive-CTE components and the
    // representative choice independently — the hash-match pins the
    // full policy including the float comparisons (index-order folds).
    QueryDef("q155_semantic_dedup",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cents = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        Dedup.semanticDedup(emb, "vec_id", "embedding", cents, tau = 0.4)
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH RECURSIVE c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
        |cn AS (SELECT cid, ce, sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cnrm FROM c),
        |asg AS (SELECT vec_id, embedding, cid,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
        |  FROM (SELECT e.vec_id, e.embedding, c.cid, ${duckL2Zip.format("e.embedding", "c.ce")} AS d FROM embeddings e, c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) = 1),
        |cs AS (SELECT a.vec_id, a.cid,
        |  ${duckDotZip.format("a.embedding", "n.ce")} / (a.nrm * n.cnrm) AS cent_sim
        |  FROM asg a JOIN cn n ON a.cid = n.cid),
        |p AS (SELECT x.vec_id AS a, y.vec_id AS b FROM asg x JOIN asg y
        |  ON x.cid = y.cid AND x.vec_id < y.vec_id
        |  WHERE ${duckDotZip.format("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= 0.4),
        |e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
        |reach(id, r) AS (
        |  SELECT a AS id, a AS r FROM e
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b),
        |cc AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
        |lab AS (SELECT cs.vec_id, cs.cid, cs.cent_sim, cc.component FROM cs
        |  LEFT JOIN cc ON cs.vec_id = cc.id),
        |rep AS (SELECT component, vec_id AS rep_id FROM lab WHERE component IS NOT NULL
        |  QUALIFY row_number() OVER (PARTITION BY component ORDER BY cent_sim ASC, vec_id ASC) = 1)
        |SELECT l.vec_id, l.cid, coalesce(l.component, l.vec_id) AS comp, l.cent_sim,
        |  (l.component IS NULL OR l.vec_id = r.rep_id) AS keep
        |FROM lab l LEFT JOIN rep r ON l.component = r.component
        |ORDER BY l.vec_id""".stripMargin)),

    // INCREMENTAL dup-span scrub: the second half of the corpus scrubbed
    // against a frozen gram index of the first half (q61's incremental
    // discipline at span granularity). Every overlapping 8-token window
    // already present in the reference is removed wholesale (the
    // reference copy is the kept one); the pass is ROW-LOCAL — the index
    // rides a PositionsInSortedSet codegen probe, islands fold in-row —
    // so the same plan runs batch and streaming. The oracle re-derives
    // the reference gram set and replays removal via the q153 island
    // skeleton.
    QueryDef("q158_dup_span_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val index = Dedup.dupSpanIndex(
          docs.where(col("doc_id") < 250), "text", n = 8)
        Dedup.dupSpanScrubInline(
            docs.where(col("doc_id") >= 250 && col("doc_id") < 500),
            "doc_id", "text", n = 8, index)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE doc_id >= 250 AND doc_id < 500),
        |ra AS (SELECT $duckToks AS toks FROM documents WHERE doc_id < 250),
        |ag AS (SELECT DISTINCT CAST('0x'||substr(md5(unnest(grams)),18,15) AS BIGINT) AS gh FROM
        |  (SELECT list_transform(range(0, greatest(length(toks)-7, 0)),
        |     i -> array_to_string(list_slice(toks, CAST(i+1 AS INT), CAST(i+8 AS INT)), ' ')) AS grams FROM ra)),
        |c AS (SELECT doc_id, toks, list_transform(range(0, greatest(length(toks)-7, 0)),
        |  i -> array_to_string(list_slice(toks, CAST(i+1 AS INT), CAST(i+8 AS INT)), ' ')) AS grams FROM t),
        |e AS (SELECT doc_id, CAST(generate_subscripts(grams, 1) - 1 AS INT) AS pos, unnest(grams) AS gram FROM c),
        |h AS (SELECT doc_id, pos, CAST('0x'||substr(md5(gram),18,15) AS BIGINT) AS gh FROM e),
        |rem AS (SELECT h.doc_id, h.pos, h.pos + 8 AS e FROM h JOIN ag USING (gh)),
        |w AS (SELECT doc_id, pos, e, max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM rem),
        |i0 AS (SELECT doc_id, pos, e, CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END AS ni FROM w),
        |i1 AS (SELECT doc_id, pos, e, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM i0),
        |isl AS (SELECT doc_id, isl, min(pos) AS s, max(e) AS en FROM i1 GROUP BY doc_id, isl),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(en - s) AS BIGINT) AS removed_tokens FROM isl GROUP BY doc_id),
        |tp AS (SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS INT) AS tpos, unnest(toks) AS tok FROM t),
        |keep AS (SELECT tp.doc_id, tp.tpos, tp.tok FROM tp WHERE NOT EXISTS
        |  (SELECT 1 FROM isl WHERE isl.doc_id = tp.doc_id AND tp.tpos >= isl.s AND tp.tpos < isl.en)),
        |k AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text FROM keep GROUP BY doc_id)
        |SELECT t.doc_id, CAST(length(t.toks) AS BIGINT) AS n_tokens,
        |  coalesce(d.n_spans, CAST(0 AS BIGINT)) AS n_spans,
        |  coalesce(d.removed_tokens, CAST(0 AS BIGINT)) AS removed_tokens,
        |  coalesce(k.clean_text, '') AS clean_text
        |FROM t LEFT JOIN d USING (doc_id) LEFT JOIN k USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin)),

    // TRUE maximal-match ExactSubstr (r9): Lee et al. 2022's actual
    // policy — one row per MAXIMAL duplicated substring >= 8 tokens with
    // exact boundaries, where q153's fixed-n windows merge overlapping
    // different-witness matches into one island. Engine: per-gram-group
    // suffix-slice lex sort + LCP-with-sorted-neighbor (the suffix-array
    // adjacency property, never all-pairs; slices island-bounded).
    // Oracle: R(i) by brute length grid over SEED positions only (any
    // witness of a dup >= 8 run is itself a seed), then the same
    // left-maximality rule. maxSpan 128 > the longest doc, so the cap
    // never binds and every span is the true maximal match.
    QueryDef("q161_maximal_dup_spans",
      (s, d) => Dedup.maximalDupSpans(Tables.documentsPar(s, d), "doc_id",
          "text", minLen = 8, maxSpan = 128)
        .orderBy(col("doc_id"), col("s")),
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
        |c AS (SELECT doc_id, toks, list_transform(range(0, greatest(length(toks)-7, 0)),
        |  i -> array_to_string(list_slice(toks, CAST(i+1 AS INT), CAST(i+8 AS INT)), ' ')) AS grams FROM t),
        |e AS (SELECT doc_id, CAST(generate_subscripts(grams, 1) - 1 AS INT) AS pos, unnest(grams) AS gram FROM c),
        |f AS (SELECT gram FROM e GROUP BY gram HAVING count(*) >= 2),
        |seeds AS (SELECT e.doc_id, e.pos FROM e JOIN f USING (gram)),
        |cand AS (SELECT s.doc_id, s.pos, CAST(g.m AS INT) AS m,
        |    array_to_string(list_slice(t.toks, CAST(s.pos+1 AS INT), CAST(s.pos+g.m AS INT)), ' ') AS sub
        |  FROM seeds s JOIN t USING (doc_id), generate_series(8, 128) g(m)
        |  WHERE s.pos + g.m <= length(t.toks)),
        |dupm AS (SELECT m, sub FROM cand GROUP BY m, sub HAVING count(*) >= 2),
        |rr AS (SELECT c2.doc_id, c2.pos, max(c2.m) AS r FROM cand c2 JOIN dupm USING (m, sub) GROUP BY c2.doc_id, c2.pos),
        |mx AS (SELECT doc_id, pos, r, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS ppos,
        |    lag(r) OVER (PARTITION BY doc_id ORDER BY pos) AS pr FROM rr)
        |SELECT doc_id, CAST(pos AS BIGINT) AS s, CAST(pos + r AS BIGINT) AS e, CAST(r AS BIGINT) AS len
        |FROM mx WHERE ppos IS NULL OR ppos != pos - 1 OR pr < r + 1
        |ORDER BY doc_id, s""".stripMargin)),

    // INCREMENTAL cluster maintenance (r9): q64's near-dup components
    // maintained across two ingest batches — labels from the base corpus
    // (ids < 250), then Graph.appendToComponents with the day-1 pairs
    // (new endpoint < 400) and day-2 pairs, label-pair union-find
    // driver-side, bounded by touched components. The oracle is the
    // ONE-SHOT recursive-CTE labeling over ALL pairs, so the hash match
    // IS the proof that two appends == full recompute on real data.
    QueryDef("q162_incremental_clusters",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.withMinhashPairs(docs, "doc_id", "text") { pairs =>
          val pr = pairs.where(col("jac") >= 0.5).select(col("a"), col("b"))
            .persist()
          try {
            // a < b, so "b < k" means both endpoints are in the first k ids
            val base = pr.where(col("b") < 250)
            val day1 = pr.where(col("b") >= 250 && col("b") < 400)
            val day2 = pr.where(col("b") >= 400)
            val l0 = Graph.connectedComponents(base, "a", "b")
            // r16 (guide §5 plan truncation; ProfileOne finding): the
            // second append consumes its input label table in THREE lazy
            // places (two endpoint-label joins + the new-node anti-join),
            // so an unmaterialized l1 re-evaluates its whole plan 3× —
            // measured as ~9 near-zero-IO 64-task stages of pure task-
            // launch overhead. Checkpoint the day-1 labeling once between
            // appends; its blocks are freed as soon as the day-2 result is
            // materialized.
            val l1 = Graph.appendToComponents(l0, day1, "a", "b")
              .localCheckpoint(true)
            try {
              val l2 = Graph.appendToComponents(l1, day2, "a", "b")
              // materialize while the pair cache is alive: the returned
              // frame must not lazily re-derive three minhash passes
              l2.orderBy(col("id"))
                .select(col("id"), col("component"))
                .localCheckpoint(true)
            } finally Graph.freeMaterialized(l1, blocking = true)
          } finally pr.unpersist()
        }
      },
      Some(s"""WITH RECURSIVE sh AS (SELECT doc_id, $duckShingles AS shingles FROM documents),
        |hv AS (SELECT doc_id, shingles, list_transform(shingles, s -> CAST('0x'||substr(md5(s),25,8) AS BIGINT)) AS hs FROM sh),
        |sig AS (SELECT doc_id, list_transform(range(0,16), k -> list_min(list_transform(hs, x -> (x*(2*k+1) + (1000000007*k+17)) % 4294967311))) AS sg FROM hv),
        |bands AS (SELECT doc_id, j AS band_idx,
        |  CAST(sg[4*CAST(j AS INT)+1] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+2] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+3] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+4] AS VARCHAR) AS band_key
        |  FROM sig, range(0,4) t(j)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
        |  ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |pairs AS (SELECT c.a, c.b,
        |  CAST(length(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |    (length(sa.shingles) + length(sb.shingles) - length(list_intersect(sa.shingles, sb.shingles))) AS jac
        |  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b),
        |pr AS (SELECT a, b FROM pairs WHERE jac >= 0.5),
        |e AS (SELECT a, b FROM pr UNION SELECT b AS a, a AS b FROM pr),
        |reach(id, r) AS (
        |  SELECT a AS id, a AS r FROM e
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b)
        |SELECT CAST(id AS BIGINT) AS id, CAST(MIN(r) AS BIGINT) AS component
        |FROM reach GROUP BY id ORDER BY id""".stripMargin)),

    // KLL-style quantile sketch STATE (r9): per-source rank sketch of
    // n_chars with deterministic nested compaction — level =
    // bitLength((n-1) div k), item survives iff its md5 coin ≡ 0
    // (mod 2^level), weight 2^level. The state (meta row + survivors)
    // is a pure function of the input multiset — no buffer order, no
    // RNG — so the oracle replays EVERY level decision and coin and the
    // hash match proves the whole sketch, the q85 HLL discipline with
    // zero driver-side transcendental tail (quantile reads are integer
    // too; SketchSpec pins error bound and merge == direct).
    QueryDef("q163_kll_sketch",
      (s, d) => graft.operators.Sketch.kllState(
          Tables.documents(s, d), "lang", "n_chars", "doc_id", k = 16)
        .orderBy(col("lang"), col("v").asc_nulls_first,
          col("u").asc_nulls_first),
      Some("""WITH t AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS v FROM documents),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY lang),
        |l AS (SELECT lang, n, CAST(CASE WHEN n <= 16 THEN 0
        |        ELSE length(bin((n-1) // 16)) END AS INT) AS level FROM c),
        |s AS (SELECT t.lang, l.level, l.n,
        |    CAST('0x'||substr(md5('kll:'||CAST(t.doc_id AS VARCHAR)),25,8) AS BIGINT) AS u,
        |    t.v
        |  FROM t JOIN l USING (lang)
        |  WHERE CAST('0x'||substr(md5('kll:'||CAST(t.doc_id AS VARCHAR)),25,8) AS BIGINT)
        |        % (CAST(1 AS BIGINT) << level) = 0)
        |SELECT * FROM (
        |  SELECT lang, level, n, CAST(NULL AS BIGINT) AS u, CAST(NULL AS BIGINT) AS v FROM l
        |  UNION ALL SELECT lang, level, n, u, v FROM s)
        |ORDER BY lang, v ASC NULLS FIRST, u ASC NULLS FIRST""".stripMargin)),

    // LINE-level boilerplate scrub (RefinedWeb, Penedo et al. 2023): a
    // normalized line in >= 2 distinct docs is removed from every doc.
    // The fixture has no newlines, so — q165's synthesis precedent —
    // boilerplate lines are appended in-plan (same expressions both
    // engines): a newsletter line (every 3rd doc), a copyright footer
    // (every 4th), doc 42's WeIrD-CaSe copy of the footer (appears ONCE
    // — removable only through key normalization, the case this pins),
    // and a per-doc unique ref-code line (never removed — pins the
    // "unique lines survive" side). Three hash/id-key shuffles.
    QueryDef("q166_line_dedup",
      (s, d) => {
        val synth = Tables.documents(s, d).select(col("doc_id"),
          concat_ws("\n",
            col("text"),
            when(col("doc_id") % 3 === 0, lit("Subscribe to our newsletter")),
            when(col("doc_id") === 42, lit("CoPyRiGhT 2024 example corp ALL RIGHTS RESERVED")),
            when(col("doc_id") % 4 === 0, lit("copyright 2024 example corp all rights reserved")),
            when(col("doc_id") % 17 === 0, concat(lit("ref code "), col("doc_id"))))
            .as("text"))
        Dedup.lineDedup(synth, "doc_id", "text").orderBy("doc_id")
      },
      Some("""WITH synth AS (SELECT doc_id, concat_ws(chr(10), text,
        |    CASE WHEN doc_id % 3 = 0 THEN 'Subscribe to our newsletter' END,
        |    CASE WHEN doc_id = 42 THEN 'CoPyRiGhT 2024 example corp ALL RIGHTS RESERVED' END,
        |    CASE WHEN doc_id % 4 = 0 THEN 'copyright 2024 example corp all rights reserved' END,
        |    CASE WHEN doc_id % 17 = 0 THEN 'ref code ' || CAST(doc_id AS VARCHAR) END) AS text
        |  FROM documents),
        |l AS (SELECT doc_id, CAST(generate_subscripts(ls, 1) - 1 AS INT) AS pos, unnest(ls) AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM synth)),
        |h AS (SELECT doc_id, pos, line,
        |  CAST('0x'||substr(md5(lower(trim(line))),18,15) AS BIGINT) AS lh FROM l),
        |hot AS (SELECT lh FROM h WHERE trim(line) <> ''
        |  GROUP BY lh HAVING count(DISTINCT doc_id) >= 2),
        |kept AS (SELECT * FROM h WHERE lh NOT IN (SELECT lh FROM hot)),
        |base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM h GROUP BY doc_id),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, b.n_lines,
        |  b.n_lines - coalesce(a.n_kept, CAST(0 AS BIGINT)) AS removed_lines,
        |  coalesce(a.clean_text, '') AS clean_text
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // URL canonicalization + registered-domain cap (RefinedWeb §3.1 URL
    // hygiene): scheme/host lowercase, www. strip, default-port strip,
    // tracking-param scrub + param sort, fragment drop; then eTLD+1
    // extraction (multi-part suffix aware) and a deterministic <= 8
    // docs-per-domain cap with auditable rank/kept columns. URLs are
    // synthesized in-plan (fixture has no url column — q165 precedent),
    // covering every rewrite rule: mixed-case scheme/host, www + cdn
    // subdomains, :80/:443 dropped vs :8443 kept, utm params scrubbed
    // around kept params (sort pins the order), fragments, and .co.uk
    // vs .com suffixes. Canonicalization is row-local codegen; the cap
    // is the query's only shuffle (domain-key window).
    QueryDef("q167_url_canonical_domain_cap",
      (s, d) => {
        val did = col("doc_id")
        val urls = Tables.documents(s, d).select(did, col("n_chars"),
          concat(
            when(did % 2 === 0, lit("HTTP://")).otherwise(lit("https://")),
            when(did % 3 === 0, lit("WWW.")).otherwise(lit("")),
            when(did % 8 === 0, lit("CDN.")).otherwise(lit("")),
            col("source"), lit("-Example"),
            when(did % 5 === 0, lit(".co.uk")).otherwise(lit(".COM")),
            when(did % 2 === 0, lit(":80"))
              .when(did % 9 === 0, lit(":443"))
              .when(did % 7 === 0, lit(":8443")).otherwise(lit("")),
            lit("/Articles/Item"), (did % 50).cast("string"),
            when(did % 4 === 0, lit("?utm_source=feed&z=26&a=1"))
              .when(did % 4 === 1,
                concat(lit("?id="), (did % 20).cast("string"),
                  lit("&utm_campaign=x")))
              .otherwise(lit("")),
            when(did % 6 === 0, lit("#Section-2")).otherwise(lit("")))
            .as("url"))
        val canon = urls
          .withColumn("canon_url", Web.canonicalizeUrl(col("url")))
          .withColumn("domain", Web.registeredDomain(Web.hostOf(col("canon_url"))))
        Web.domainCap(canon, "domain", maxPerDomain = 8,
            col("n_chars").desc, col("doc_id").asc)
          .select("doc_id", "canon_url", "domain", "domain_rank", "kept")
          .orderBy("doc_id")
      },
      Some(s"""WITH u AS (SELECT doc_id, n_chars,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |  (CASE WHEN doc_id % 8 = 0 THEN 'CDN.' ELSE '' END) ||
        |  source || '-Example' ||
        |  (CASE WHEN doc_id % 5 = 0 THEN '.co.uk' ELSE '.COM' END) ||
        |  (CASE WHEN doc_id % 2 = 0 THEN ':80'
        |        WHEN doc_id % 9 = 0 THEN ':443'
        |        WHEN doc_id % 7 = 0 THEN ':8443' ELSE '' END) ||
        |  '/Articles/Item' || CAST(doc_id % 50 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&z=26&a=1'
        |        WHEN doc_id % 4 = 1 THEN '?id=' || CAST(doc_id % 20 AS VARCHAR) || '&utm_campaign=x'
        |        ELSE '' END) ||
        |  (CASE WHEN doc_id % 6 = 0 THEN '#Section-2' ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id, n_chars,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\\.', '') AS h0,
        |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
        |  FROM u),
        |c2 AS (SELECT doc_id, n_chars, scheme, rest,
        |  CASE WHEN scheme = 'http' THEN regexp_replace(h0, ':80$$', '')
        |       WHEN scheme = 'https' THEN regexp_replace(h0, ':443$$', '')
        |       ELSE h0 END AS host FROM c),
        |p AS (SELECT *, regexp_extract(rest, '^([^?]*)', 1) AS p0,
        |  coalesce(array_to_string(list_sort(list_filter(string_split(regexp_extract(rest, '\\?(.*)$$', 1), '&'),
        |    x -> NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid)(=|$$)') AND x <> '')), '&'), '') AS qq
        |  FROM c2),
        |canon AS (SELECT doc_id, n_chars,
        |  scheme || '://' || host || (CASE WHEN p0 = '' THEN '/' ELSE p0 END) ||
        |    (CASE WHEN qq = '' THEN '' ELSE '?' || qq END) AS canon_url,
        |  string_split(regexp_replace(host, ':[0-9]+$$', ''), '.') AS ls,
        |  regexp_replace(host, ':[0-9]+$$', '') AS hostname FROM p),
        |d2 AS (SELECT *, len(ls) AS n,
        |  (CASE WHEN len(ls) >= 2 THEN ls[-2] || '.' || ls[-1] END) AS last2 FROM canon),
        |d3 AS (SELECT doc_id, n_chars, canon_url,
        |  CASE WHEN n <= 1 THEN hostname
        |       WHEN n >= 3 AND last2 IN (${Web.MultiPartTlds.map(t => s"'$t'").mkString(",")})
        |         THEN ls[-3] || '.' || last2
        |       ELSE last2 END AS domain FROM d2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY domain
        |  ORDER BY n_chars DESC, doc_id) AS BIGINT) AS domain_rank FROM d3)
        |SELECT doc_id, canon_url, domain, domain_rank,
        |  CAST(CASE WHEN domain_rank <= 8 THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM r ORDER BY doc_id""".stripMargin)),

    // Incremental line scrub vs a FROZEN boilerplate index (r10): q166's
    // delete-everywhere policy across the corpus boundary, q158's
    // frozen-index discipline at line granularity — the index is built
    // from docs < 250, docs >= 250 are gated ROW-LOCALLY (the
    // PositionsInSortedSet probe; no join/agg/state, batch == streaming
    // plan). The new-half-only 'flash sale' line pins the B-internal
    // contract: boilerplate born inside the new batch is NOT in the
    // frozen index and survives (a periodic q166 over the union catches
    // it). Oracle re-derives the reference hot set and replays removal.
    QueryDef("q169_line_dedup_incremental",
      (s, d) => {
        val synth = Tables.documents(s, d).select(col("doc_id"),
          concat_ws("\n",
            col("text"),
            when(col("doc_id") % 3 === 0, lit("Subscribe to our newsletter")),
            when(col("doc_id") % 4 === 0, lit("copyright 2024 example corp all rights reserved")),
            when(col("doc_id") >= 250 && col("doc_id") % 11 === 0,
              lit("flash sale ends tonight")),
            when(col("doc_id") % 17 === 0, concat(lit("ref code "), col("doc_id"))))
            .as("text"))
        val index = Dedup.lineDedupIndex(
          synth.where(col("doc_id") < 250), "doc_id", "text")
        Dedup.lineDedupInline(
            synth.where(col("doc_id") >= 250 && col("doc_id") < 500),
            "doc_id", "text", index)
          .orderBy("doc_id")
      },
      Some("""WITH synth AS (SELECT doc_id, concat_ws(chr(10), text,
        |    CASE WHEN doc_id % 3 = 0 THEN 'Subscribe to our newsletter' END,
        |    CASE WHEN doc_id % 4 = 0 THEN 'copyright 2024 example corp all rights reserved' END,
        |    CASE WHEN doc_id >= 250 AND doc_id % 11 = 0 THEN 'flash sale ends tonight' END,
        |    CASE WHEN doc_id % 17 = 0 THEN 'ref code ' || CAST(doc_id AS VARCHAR) END) AS text
        |  FROM documents),
        |rl AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        |  FROM synth WHERE doc_id < 250),
        |hot AS (SELECT CAST('0x'||substr(md5(lower(trim(line))),18,15) AS BIGINT) AS lh
        |  FROM rl WHERE trim(line) <> '' GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |t AS (SELECT doc_id, string_split(text, chr(10)) AS ls
        |  FROM synth WHERE doc_id >= 250 AND doc_id < 500),
        |l AS (SELECT doc_id, CAST(generate_subscripts(ls, 1) - 1 AS INT) AS pos, unnest(ls) AS line FROM t),
        |h AS (SELECT doc_id, pos, line,
        |  CAST('0x'||substr(md5(lower(trim(line))),18,15) AS BIGINT) AS lh FROM l),
        |kept AS (SELECT * FROM h WHERE lh NOT IN (SELECT lh FROM hot)),
        |base AS (SELECT doc_id, CAST(length(ls) AS BIGINT) AS n_lines FROM t),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, b.n_lines,
        |  b.n_lines - coalesce(a.n_kept, CAST(0 AS BIGINT)) AS removed_lines,
        |  coalesce(a.clean_text, '') AS clean_text
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // C4 page cleaning (Raffel et al. 2020 §2.2) — the third canonical
    // curation rule-pack next to Gopher (q165) and RefinedWeb (q166):
    // line retention (terminal punct + >= 3 words + no "javascript"),
    // page drops (< 3 retained sentences / "lorem ipsum" / curly
    // bracket / bad-word token). Pages are synthesized in-plan (q165
    // precedent) so every rule has passing AND failing docs: the
    // "Click here" line fails both word-count and punctuation, the
    // JavaScript line is punct-clean but script boilerplate, the lorem/
    // brace/badword lines are line-KEPT but page-fatal (page flags look
    // at the ORIGINAL text). One row-local pass — zero shuffles; the
    // rejection flags are the q165 audit-matrix discipline.
    QueryDef("q171_c4_clean",
      (s, d) => {
        val did = col("doc_id")
        val synth = Tables.documents(s, d).select(did, col("source"),
          concat_ws("\n",
            concat(lit("Doc "), did.cast("string"),
              lit(" opens with a clean first line.")),
            lit("Click here"),
            when(did % 3 === 0,
              lit("Please enable JavaScript to view this page.")),
            when(did % 4 === 0, lit("tiny line.")),
            concat(lit("A body line from source "), col("source"),
              lit(" carries real content.")),
            when(did % 2 === 0,
              lit("One more thought. And another one follows. Plus a third idea.")),
            when(did % 6 === 0, lit("Read more about this topic now!")),
            when(did % 5 === 0, lit("This page uses Lorem Ipsum filler text.")),
            when(did % 7 === 0, lit("var f = function() { return 1; }.")),
            when(did % 11 === 0, lit("warning badword1 appears right here.")),
            when(did % 13 === 0, lit("It even shouts (badword2!) mid-line.")))
            .as("text"))
        C4.clean(synth, "doc_id", "text", minSentences = 3, minWords = 3,
            badWords = Seq("badword1", "badword2"))
          .orderBy("doc_id")
      },
      Some("""WITH synth AS (SELECT doc_id, concat_ws(chr(10),
        |    'Doc ' || CAST(doc_id AS VARCHAR) || ' opens with a clean first line.',
        |    'Click here',
        |    CASE WHEN doc_id % 3 = 0 THEN 'Please enable JavaScript to view this page.' END,
        |    CASE WHEN doc_id % 4 = 0 THEN 'tiny line.' END,
        |    'A body line from source ' || source || ' carries real content.',
        |    CASE WHEN doc_id % 2 = 0 THEN 'One more thought. And another one follows. Plus a third idea.' END,
        |    CASE WHEN doc_id % 6 = 0 THEN 'Read more about this topic now!' END,
        |    CASE WHEN doc_id % 5 = 0 THEN 'This page uses Lorem Ipsum filler text.' END,
        |    CASE WHEN doc_id % 7 = 0 THEN 'var f = function() { return 1; }.' END,
        |    CASE WHEN doc_id % 11 = 0 THEN 'warning badword1 appears right here.' END,
        |    CASE WHEN doc_id % 13 = 0 THEN 'It even shouts (badword2!) mid-line.' END) AS text
        |  FROM documents),
        |f AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls,
        |    list_filter(string_split(text, chr(10)), l ->
        |      regexp_matches(l, '[.!?"]\s*$')
        |      AND len(regexp_split_to_array(trim(l), '\s+')) >= 3
        |      AND NOT regexp_matches(lower(l), '\bjavascript\b')) AS ka
        |  FROM synth),
        |g AS (SELECT doc_id,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(ka) AS BIGINT) AS kept_lines,
        |    CAST(len(regexp_extract_all(array_to_string(ka, chr(10)), '[.!?]+')) AS BIGINT) AS n_sentences,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem,
        |    contains(text, '{') AS has_brace,
        |    list_has_any(list_transform(
        |        regexp_split_to_array(lower(text), '\s+'),
        |        t -> regexp_replace(t, '^[[:punct:]]+|[[:punct:]]+$', '', 'g')),
        |      ['badword1', 'badword2']) AS has_bad_word,
        |    array_to_string(ka, chr(10)) AS retained
        |  FROM f)
        |SELECT doc_id, n_lines, kept_lines, n_sentences,
        |  has_lorem, has_brace, has_bad_word,
        |  (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace
        |    AND NOT has_bad_word) AS kept_page,
        |  CASE WHEN n_sentences >= 3 AND NOT has_lorem AND NOT has_brace
        |    AND NOT has_bad_word THEN retained ELSE '' END AS clean_text
        |FROM g ORDER BY doc_id""".stripMargin)),

    // C4 three-SENTENCE-span corpus dedup (Raffel et al. 2020 §2.2:
    // "we discarded all but one of any three-sentence span occurring
    // more than once") — q153's keep-first overlapping-window machine
    // at sentence granularity. Docs are synthesized as sentence runs: an
    // (Alpha, Bravo, Charlie) opener shared across the doc_id%10 group
    // (duplicated 3-span; earliest doc keeps it), a per-doc unique
    // Delta/Echo pair (never removed — windows containing them are
    // unique), and a (Foxtrot, Golf, Hotel) tail on doc_id%4 docs (a
    // SECOND dup family, overlap-union exercised on docs in both). The
    // oracle re-derives sentence split, windows, first occurrences,
    // island merge and the interval rebuild independently.
    QueryDef("q172_c4_span_dedup",
      (s, d) => {
        val did = col("doc_id")
        val g10 = (did % 10).cast("string")
        val synth = Tables.documents(s, d).select(did,
          concat_ws(" ",
            concat(lit("Alpha shared opener "), g10, lit(" level one.")),
            concat(lit("Bravo shared middle "), g10, lit(" level two.")),
            concat(lit("Charlie shared closer "), g10, lit(" level three.")),
            concat(lit("Delta unique detail "), did.cast("string"),
              lit(" here.")),
            when(did % 4 === 0,
              lit("Foxtrot common tail starts. Golf common tail continues. Hotel common tail ends.")),
            concat(lit("Echo final remark "), did.cast("string"),
              lit(" closes.")))
            .as("text"))
        C4.spanDedup(synth, "doc_id", "text", n = 3).orderBy("doc_id")
      },
      Some("""WITH synth AS (SELECT doc_id, concat_ws(' ',
        |    'Alpha shared opener ' || CAST(doc_id % 10 AS VARCHAR) || ' level one.',
        |    'Bravo shared middle ' || CAST(doc_id % 10 AS VARCHAR) || ' level two.',
        |    'Charlie shared closer ' || CAST(doc_id % 10 AS VARCHAR) || ' level three.',
        |    'Delta unique detail ' || CAST(doc_id AS VARCHAR) || ' here.',
        |    CASE WHEN doc_id % 4 = 0 THEN 'Foxtrot common tail starts. Golf common tail continues. Hotel common tail ends.' END,
        |    'Echo final remark ' || CAST(doc_id AS VARCHAR) || ' closes.') AS text
        |  FROM documents),
        |t AS (SELECT doc_id, string_split(regexp_replace(trim(text),
        |    '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)) AS us FROM synth),
        |c AS (SELECT doc_id, us, list_transform(range(0, greatest(len(us)-2, 0)),
        |  i -> array_to_string(list_slice(us, CAST(i+1 AS INT), CAST(i+3 AS INT)), ' ')) AS grams FROM t),
        |e AS (SELECT doc_id, CAST(generate_subscripts(grams, 1) - 1 AS INT) AS pos, unnest(grams) AS gram FROM c),
        |h AS (SELECT doc_id, pos, CAST('0x'||substr(md5(gram),18,15) AS BIGINT) AS gh FROM e),
        |f AS (SELECT gh, min(doc_id*1048576 + pos) AS fo, count(*) AS cnt FROM h GROUP BY gh),
        |rem AS (SELECT h.doc_id, h.pos, h.pos + 3 AS e FROM h JOIN f ON h.gh = f.gh
        |  WHERE f.cnt >= 2 AND h.doc_id*1048576 + h.pos > f.fo),
        |w AS (SELECT doc_id, pos, e, max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM rem),
        |i0 AS (SELECT doc_id, pos, e, CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END AS ni FROM w),
        |i1 AS (SELECT doc_id, pos, e, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM i0),
        |isl AS (SELECT doc_id, isl, min(pos) AS s, max(e) AS en FROM i1 GROUP BY doc_id, isl),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(en - s) AS BIGINT) AS removed_sentences FROM isl GROUP BY doc_id),
        |tp AS (SELECT doc_id, CAST(generate_subscripts(us, 1) - 1 AS INT) AS tpos, unnest(us) AS tok FROM t),
        |keep AS (SELECT tp.doc_id, tp.tpos, tp.tok FROM tp WHERE NOT EXISTS
        |  (SELECT 1 FROM isl WHERE isl.doc_id = tp.doc_id AND tp.tpos >= isl.s AND tp.tpos < isl.en)),
        |k AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text FROM keep GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.us) AS BIGINT) AS n_sentences,
        |  coalesce(d.n_spans, CAST(0 AS BIGINT)) AS n_spans,
        |  coalesce(d.removed_sentences, CAST(0 AS BIGINT)) AS removed_sentences,
        |  coalesce(k.clean_text, '') AS clean_text
        |FROM t LEFT JOIN d USING (doc_id) LEFT JOIN k USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin)),

    // Content-defined chunking dedup (rsync/LBFS, Muthitacharoen et al.
    // 2001; FastCDC): chunk boundaries from the divisor-0 residue of
    // the rolling 3-token window hash, so a 30-token passage appended
    // after each doc's VARIABLE-LENGTH text (arbitrary unaligned
    // offsets, doc_id%6 group) resynchronizes to identical interior
    // chunks and is scrubbed corpus-wide — the duplication fixed-k
    // chunking (q52) is structurally blind to. Unique per-doc tails pin
    // the survivor side. Boundary detection and chunk building are
    // row-local; then q52's three hash/id-key shuffles. The oracle
    // re-derives windows, cuts, variable chunks and the hot set.
    QueryDef("q174_cdc_chunk_dedup",
      (s, d) => {
        val did = col("doc_id")
        val synth = Tables.documents(s, d).select(did,
          concat_ws(" ",
            col("text"),
            when(did % 6 === 0, lit(CdcPassage)),
            concat(lit("tail"), did.cast("string"))).as("text"))
        Dedup.cdcChunkDedup(synth, "doc_id", "text", w = 3, divisor = 4)
          .orderBy("doc_id")
      },
      Some(s"""WITH synth AS (SELECT doc_id, concat_ws(' ', text,
        |    CASE WHEN doc_id % 6 = 0 THEN '$CdcPassage' END,
        |    'tail' || CAST(doc_id AS VARCHAR)) AS text FROM documents),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM synth),
        |g AS (SELECT doc_id, toks, list_transform(range(0, greatest(len(toks)-2, 0)),
        |  i -> array_to_string(list_slice(toks, CAST(i+1 AS INT), CAST(i+3 AS INT)), ' ')) AS grams FROM t),
        |cu AS (SELECT doc_id, toks, list_append(
        |  list_filter(list_transform(range(0, len(grams)), j ->
        |    CASE WHEN CAST('0x'||substr(md5(grams[CAST(j AS INT)+1]),18,15) AS BIGINT) % 4 = 0
        |      THEN j + 2 ELSE CAST(-1 AS BIGINT) END),
        |    x -> x >= 0 AND x < len(toks) - 1),
        |  CAST(len(toks) - 1 AS BIGINT)) AS cuts FROM g),
        |c AS (SELECT doc_id, list_transform(range(0, len(cuts)), j ->
        |  array_to_string(list_slice(toks,
        |    CAST(CASE WHEN j = 0 THEN 1 ELSE cuts[CAST(j AS INT)] + 2 END AS INT),
        |    CAST(cuts[CAST(j AS INT)+1] + 1 AS INT)), ' ')) AS chunks FROM cu),
        |e AS (SELECT doc_id, CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS pos, unnest(chunks) AS chunk FROM c),
        |h AS (SELECT doc_id, pos, chunk, CAST('0x'||substr(md5(chunk),18,15) AS BIGINT) AS ch FROM e),
        |hot AS (SELECT ch FROM h GROUP BY ch HAVING count(DISTINCT doc_id) > 1),
        |kept AS (SELECT * FROM h WHERE ch NOT IN (SELECT ch FROM hot)),
        |agg AS (SELECT doc_id, count(*) AS n_kept, string_agg(chunk, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id)
        |SELECT c.doc_id, CAST(length(c.chunks) AS BIGINT) AS n_chunks,
        |  CAST(length(c.chunks) AS BIGINT) - coalesce(a.n_kept, 0) AS n_dropped,
        |  coalesce(a.clean_text, '') AS clean_text
        |FROM c LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // Collocation extraction (Church & Hanks 1990): adjacent token
    // pairs ranked by exact-integer lift permille (PMI is its log —
    // monotone, so this IS the PMI ranking with zero float ops; the
    // decimal(38,0) `div` keeps 10^13-token corpora exact, the q168
    // HUGEINT discipline on the oracle side). minCount=5 on pair AND
    // unigrams is the standard rare-pair-bias guard. Two hash aggs,
    // filter-before-join, broadcast 1-row N, TakeOrdered top-50.
    QueryDef("q176_collocations",
      (s, d) => graft.operators.Profile.collocations(
        Tables.documentsPar(s, d), "text", minCount = 5, topK = 50),
      Some("""WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |u AS (SELECT unnest(toks) AS tok FROM t),
        |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY tok),
        |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uc),
        |p AS (SELECT unnest(list_transform(range(0, greatest(len(toks)-1, 0)),
        |  i -> toks[CAST(i AS INT)+1] || ' ' || toks[CAST(i AS INT)+2])) AS pair FROM t),
        |bc AS (SELECT pair, CAST(count(*) AS BIGINT) AS c_ab FROM p GROUP BY pair HAVING count(*) >= 5),
        |j AS (SELECT split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b, c_ab FROM bc),
        |m AS (SELECT j.a, j.b, j.c_ab, ua.c AS c_a, ub.c AS c_b FROM j
        |  JOIN uc ua ON ua.tok = j.a JOIN uc ub ON ub.tok = j.b
        |  WHERE ua.c >= 5 AND ub.c >= 5)
        |SELECT a, b, c_ab,
        |  CAST((CAST(c_ab AS HUGEINT) * nn.n * 1000) // (CAST(c_a AS HUGEINT) * c_b) AS BIGINT) AS lift_permille
        |FROM m, nn
        |ORDER BY lift_permille DESC, a, b LIMIT 50""".stripMargin)),

    // Incremental CDC-chunk scrub vs a FROZEN hot-chunk index (the
    // q158/q169 ladder's missing middle rung, at q174's granularity):
    // the index is built from docs < 250 (where the planted passage at
    // %6 recurs → its interior chunks are hot), docs >= 250 are chunked
    // under the SAME (w=3, divisor=4) geometry and gated ROW-LOCALLY —
    // the native CdcChunks kernel + PositionsInSortedSet probe, no
    // join/agg/state, batch == streaming plan. CDC boundaries
    // resynchronize past each doc's variable-length prefix, so the
    // reference passage is caught at arbitrary unaligned offsets in NEW
    // data. The new-half-only %9 passage pins the B-internal contract:
    // boilerplate born inside the new batch is NOT in the frozen index
    // and survives (a periodic q174 over the union catches it). The
    // oracle re-derives windows, cuts, chunks, and the reference hot
    // set, then replays the removal.
    QueryDef("q178_cdc_chunk_incremental",
      (s, d) => {
        val did = col("doc_id")
        val synth = Tables.documents(s, d).select(did,
          concat_ws(" ",
            col("text"),
            when(did % 6 === 0, lit(CdcPassage)),
            when(did >= 250 && did % 9 === 0, lit(CdcNewPassage)),
            concat(lit("tail"), did.cast("string"))).as("text"))
        val index = Dedup.cdcChunkIndex(
          synth.where(did < 250), "doc_id", "text", w = 3, divisor = 4)
        Dedup.cdcChunkDedupInline(
            synth.where(did >= 250 && did < 500),
            "doc_id", "text", w = 3, divisor = 4, index)
          .orderBy("doc_id")
      },
      Some(s"""WITH synth AS (SELECT doc_id, concat_ws(' ', text,
        |    CASE WHEN doc_id % 6 = 0 THEN '$CdcPassage' END,
        |    CASE WHEN doc_id >= 250 AND doc_id % 9 = 0 THEN '$CdcNewPassage' END,
        |    'tail' || CAST(doc_id AS VARCHAR)) AS text FROM documents),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM synth),
        |g AS (SELECT doc_id, toks, list_transform(range(0, greatest(len(toks)-2, 0)),
        |  i -> array_to_string(list_slice(toks, CAST(i+1 AS INT), CAST(i+3 AS INT)), ' ')) AS grams FROM t),
        |cu AS (SELECT doc_id, toks, list_append(
        |  list_filter(list_transform(range(0, len(grams)), j ->
        |    CASE WHEN CAST('0x'||substr(md5(grams[CAST(j AS INT)+1]),18,15) AS BIGINT) % 4 = 0
        |      THEN j + 2 ELSE CAST(-1 AS BIGINT) END),
        |    x -> x >= 0 AND x < len(toks) - 1),
        |  CAST(len(toks) - 1 AS BIGINT)) AS cuts FROM g),
        |c AS (SELECT doc_id, list_transform(range(0, len(cuts)), j ->
        |  array_to_string(list_slice(toks,
        |    CAST(CASE WHEN j = 0 THEN 1 ELSE cuts[CAST(j AS INT)] + 2 END AS INT),
        |    CAST(cuts[CAST(j AS INT)+1] + 1 AS INT)), ' ')) AS chunks FROM cu),
        |e AS (SELECT doc_id, CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS pos, unnest(chunks) AS chunk FROM c),
        |h AS (SELECT doc_id, pos, chunk, CAST('0x'||substr(md5(chunk),18,15) AS BIGINT) AS ch FROM e),
        |hot AS (SELECT ch FROM h WHERE doc_id < 250 GROUP BY ch HAVING count(DISTINCT doc_id) > 1),
        |nh AS (SELECT * FROM h WHERE doc_id >= 250 AND doc_id < 500),
        |kept AS (SELECT * FROM nh WHERE ch NOT IN (SELECT ch FROM hot)),
        |agg AS (SELECT doc_id, count(*) AS n_kept, string_agg(chunk, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id),
        |base AS (SELECT doc_id, CAST(length(chunks) AS BIGINT) AS n_chunks FROM c
        |  WHERE doc_id >= 250 AND doc_id < 500)
        |SELECT b.doc_id, b.n_chunks,
        |  b.n_chunks - coalesce(a.n_kept, 0) AS n_dropped,
        |  coalesce(a.clean_text, '') AS clean_text
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // The q64 minhash-cluster family under AUTO-RETUNED band geometry
    // (r11): the loop SCALE.md proved by hand (4×4 → 2×8 collapses 10×
    // candidates −99.5%) closed by the engine itself —
    // minhashCalibration on a corpus-size-bounded sample (the fraction
    // adapts so the calibration join stays ~flat as the corpus grows,
    // exactly what a 100-TB operator does), minhashRetune picks the
    // tightest recall-feasible divisor geometry inside the candidate
    // budget, and the full pairs + connected-components pass runs under
    // the CHOSEN bands. Output = the 1-row recipe + result summary.
    // No SQL oracle: the retune is a float S-curve decision procedure
    // (ScalaTest-pinned, monotone + budget-respected in DedupSpec); the
    // driver records the rows-only check, and the 10× sweep is the
    // scale evidence this query exists to produce.
    QueryDef("q180_minhash_retuned",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.count()
        val f = math.min(1.0, 4000.0 / math.max(n, 1L))
        val (gBands, gRows, nPairs, nClusters) =
          // target 0.95 = "catch near-exact dups": the retune's tightest
          // 0.8-recall-feasible divisor geometry is then 2 bands × r=8 —
          // the exact hand-proven SCALE.md collapse (−99.5% candidates
          // at 10×); a LOW target would legitimately pick a looser
          // geometry (recall at low similarity demands short bands)
          Dedup.withMinhashPairsRetuned(docs, "doc_id", "text",
              targetJaccard = 0.95, candidateBudget = 50000000L,
              sampleFraction = f, minRecall = 0.8) { (pairs, g) =>
            // consume the cached pairs INSIDE the owned-lifetime block
            // (the returned frame is lazy; acting after unpersist would
            // silently recompute the band join for each leg)
            val close = pairs.where(col("jac") >= 0.5)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val np = close.count()
              val nc = Graph.dedupClusters(close, "a", "b")
                .agg(countDistinct(col("component"))).head().getLong(0)
              (g.bands.toLong, g.rowsPerBand.toLong, np, nc)
            } finally close.unpersist()
          }
        import s.implicits._
        Seq((gBands, gRows, nPairs, nClusters))
          .toDF("bands", "rows_per_band", "n_pairs", "n_clusters")
      },
      None),

    // Cross-source n-gram CONTAINMENT matrix (r11) — the corpus-
    // composition twin of decontamination: per source pair, distinct
    // 8-gram intersection + both asymmetric containments in exact
    // permille ("how much of A already exists in B" — a swallowed crawl
    // snapshot, a double-ingested mirror). q168's TV drift compares
    // unigram DISTRIBUTIONS; this is the verbatim-overlap lens. Two
    // passages planted in-plan on different residues so every pair has
    // nonzero overlap with per-pair-different set sizes; the fixture's
    // own text contributes (near-)zero cross-source 8-grams — the
    // planted mass IS the measured signal. Grams shuffle once as 60-bit
    // hashes; |S|-row sizes + one gh equi-join to |S|^2 rows.
    QueryDef("q181_cross_source_containment",
      (s, d) => {
        val did = col("doc_id")
        val synth = Tables.documentsPar(s, d).select(col("source"),
          concat_ws(" ",
            col("text"),
            when(did % 4 === 0, lit(ShareA)),
            when(did % 3 === 0, lit(ShareB))).as("text"))
        graft.operators.Profile.crossSourceContainment(
          synth, "source", "text", n = 8)
      },
      Some(s"""WITH synth AS (SELECT source, concat_ws(' ', text,
        |    CASE WHEN doc_id % 4 = 0 THEN '$ShareA' END,
        |    CASE WHEN doc_id % 3 = 0 THEN '$ShareB' END) AS text FROM documents),
        |t AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks FROM synth),
        |g AS (SELECT source, unnest(list_transform(range(0, greatest(len(toks)-7, 0)),
        |  i -> array_to_string(list_slice(toks, CAST(i+1 AS INT), CAST(i+8 AS INT)), ' '))) AS gram FROM t),
        |d AS (SELECT DISTINCT source, CAST('0x'||substr(md5(gram),18,15) AS BIGINT) AS gh FROM g),
        |srcs AS (SELECT DISTINCT source FROM synth),
        |s0 AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM d GROUP BY source),
        |s AS (SELECT srcs.source, coalesce(s0.sz, CAST(0 AS BIGINT)) AS sz
        |  FROM srcs LEFT JOIN s0 USING (source)),
        |p AS (SELECT a.source AS src_a, b.source AS src_b, a.sz AS n_a, b.sz AS n_b
        |  FROM s a JOIN s b ON a.source < b.source),
        |i AS (SELECT da.source AS src_a, db.source AS src_b, CAST(count(*) AS BIGINT) AS inter
        |  FROM d da JOIN d db ON da.gh = db.gh AND da.source < db.source GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b, p.n_a, p.n_b,
        |  coalesce(i.inter, CAST(0 AS BIGINT)) AS inter,
        |  coalesce(i.inter, CAST(0 AS BIGINT)) * 1000 // greatest(p.n_a, 1) AS cont_a_in_b_permille,
        |  coalesce(i.inter, CAST(0 AS BIGINT)) * 1000 // greatest(p.n_b, 1) AS cont_b_in_a_permille
        |FROM p LEFT JOIN i USING (src_a, src_b)
        |ORDER BY src_a, src_b""".stripMargin)),

    // HTML/markup text extraction (r11) — the WET-extraction front gate
    // every raw-web stage assumes has already run (C4 §2.2 consumes WET
    // text, i.e. the product of exactly this tag-strip + normalize
    // class). Pages synthesized in-plan around the documents text:
    // style/script blocks WITH contents (incl. a '<' inside script
    // code — block removal must precede tag stripping), uppercase tags,
    // a nav with links on %3, an entity-bearing paragraph on %4, a
    // comment. Output = clean text + exact-integer markup-density
    // signals (the jusText-style page evidence). One row-local
    // projection, zero shuffles; the oracle replays regex for regex.
    QueryDef("q182_html_extract",
      (s, d) => {
        val did = col("doc_id")
        val synth = Tables.documentsPar(s, d).select(did,
          concat(
            lit("<HTML><head><title>Doc "), did.cast("string"),
            lit("</title><style type=\"text/css\">p { color: red; }" +
              "</style><script>var x = 1; if (x < 2) { x++; }</script>" +
              "</head><body>"),
            when(did % 3 === 0,
              lit("<div class=\"nav\"><a href=\"/\">Home</a> " +
                "<A HREF=\"/about\">About</A></div>")).otherwise(lit("")),
            lit("<h1>Title "), did.cast("string"), lit("</h1><p>"),
            col("text"), lit("</p>"),
            when(did % 4 === 0,
              lit("<p>Tom &amp; Jerry say &quot;hi&quot;&nbsp;" +
                "&lt;always&gt;.</p>")).otherwise(lit("")),
            // NUMERIC references (r12, extended r13): decoded Latin-1
            // (decimal, hex with BOTH marker cases — &#XE9; decodes
            // since r13), pass-through out-of-range (&#x2019;),
            // malformed (&#1e3;), and a decoded tab that the
            // whitespace collapse then normalizes
            when(did % 5 === 0,
              lit("<p>Caf&#233; r&#xE9;sum&#x00E9; says &#039;hi&#039; " +
                "&#x2019;smart&#x2019; &#XE9; &#1e3; a&#9;b.</p>"))
              .otherwise(lit("")),
            // NAMED references (r13): case-sensitive Latin-1 names,
            // typography names, the zero-width drop (&shy;), the
            // plain-space whitespace names, an unknown name verbatim,
            // and the &amp;lt; double-escape staying literal
            when(did % 7 === 2,
              lit("<p>&Eacute;clair &eacute;clair &mdash; yes&hellip; " +
                "&copy; 2020 &frac12; price &unknown; stays " +
                "hy&shy;phen&nbsp;&euro;5 &amp;lt;tag " +
                // the r14 WHATWG-tail names: Greek (case-sensitive),
                // arrows, math operators, card suits
                "&alpha;&beta;&Omega; a&rarr;b x&ne;y n&le;m " +
                "&sum;&infin; &hearts;&spades;</p>"))
              .otherwise(lit("")),
            lit("<!-- hidden comment --></body></html>")).as("html"))
        graft.operators.Markup.markupStats(synth, "doc_id", "html")
          .orderBy("doc_id")
      },
      Some(s"""WITH synth AS (SELECT doc_id,
        |  '<HTML><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |  '</title><style type="text/css">p { color: red; }</style><script>var x = 1; if (x < 2) { x++; }</script></head><body>'
        |  || CASE WHEN doc_id % 3 = 0 THEN '<div class="nav"><a href="/">Home</a> <A HREF="/about">About</A></div>' ELSE '' END
        |  || '<h1>Title ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p>'
        |  || CASE WHEN doc_id % 4 = 0 THEN '<p>Tom &amp; Jerry say &quot;hi&quot;&nbsp;&lt;always&gt;.</p>' ELSE '' END
        |  || CASE WHEN doc_id % 5 = 0 THEN '<p>Caf&#233; r&#xE9;sum&#x00E9; says &#039;hi&#039; &#x2019;smart&#x2019; &#XE9; &#1e3; a&#9;b.</p>' ELSE '' END
        |  || CASE WHEN doc_id % 7 = 2 THEN '<p>&Eacute;clair &eacute;clair &mdash; yes&hellip; &copy; 2020 &frac12; price &unknown; stays hy&shy;phen&nbsp;&euro;5 &amp;lt;tag &alpha;&beta;&Omega; a&rarr;b x&ne;y n&le;m &sum;&infin; &hearts;&spades;</p>' ELSE '' END
        |  || '<!-- hidden comment --></body></html>' AS html FROM documents),
        |c1 AS (SELECT doc_id, html, regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g') AS s FROM synth),
        |c2 AS (SELECT doc_id, html, regexp_replace(s, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS s FROM c1),
        |c3 AS (SELECT doc_id, html, regexp_replace(s, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS s FROM c2),
        |c4 AS (SELECT doc_id, html, regexp_replace(s, '<[^>]*>', ' ', 'g') AS s FROM c3),
        |c4b AS (SELECT doc_id, html, ${duckDecodeNumEntities("s")} AS s FROM c4),
        |c5 AS (SELECT doc_id, html, ${duckDecodeNamedEntities("s")} AS s FROM c4b),
        |c6 AS (SELECT doc_id, html, trim(regexp_replace(s, '\\s+', ' ', 'g')) AS clean_text FROM c5)
        |SELECT doc_id, clean_text,
        |  CAST(length(html) AS BIGINT) AS n_raw_chars,
        |  CAST(length(clean_text) AS BIGINT) AS n_text_chars,
        |  CAST(length(clean_text) AS BIGINT) * 1000
        |    // greatest(CAST(length(html) AS BIGINT), 1) AS text_ratio_permille,
        |  CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
        |  CAST(len(regexp_extract_all(html, '(?i)<a[\\s>]')) AS BIGINT) AS n_links
        |FROM c6 ORDER BY doc_id""".stripMargin)),

    // The raw-web front of the pipeline COMPOSED (r11): html extraction
    // (q182) → PII redaction (q53) → per-domain cap (q167's window as a
    // Curate stage) → exact dedup, with Curate.explain's fate audit —
    // the ordering is the point and is pinned by construction: docs
    // identical except for ROTATED tracking URLs (%25 family) dedup
    // together ONLY because redaction runs before the dedup key, and
    // the domain rank is measured on the extracted+redacted text. The
    // oracle replays every stage in order: strip chain, redact chain,
    // rank window, min-id dedup, fate CASE.
    QueryDef("q183_curate_web_pipeline",
      (s, d) => {
        val did = col("doc_id")
        val synth = Tables.documents(s, d).select(did,
          concat(lit("d"), (did % 7).cast("string")).as("domain"),
          concat(
            lit("<html><body><p>"),
            when(did % 25 === 0, lit(SharedPage)).otherwise(col("text")),
            lit("</p>"),
            when(did % 5 === 0, concat(
              lit(" <a href=\"x\">visit</a> https://t.co/x?tok="),
              did.cast("string"))).otherwise(lit("")),
            when(did % 6 === 0, concat(
              lit(" mail a"), (did % 3).cast("string"),
              lit("@ex.com now"))).otherwise(lit("")),
            lit("<script>var t = 1;</script></body></html>")).as("text"))
        val cfg = graft.operators.Curate.Config(exactDedup = true,
          htmlExtract = true, piiRedact = true,
          domainCap = Some(("domain", 30)))
        // one traced pass for BOTH the fate audit and the final text
        // (r16, guide §5 reuse): explain + run used to execute the whole
        // pipeline twice; withExplained hands back the traced run's own
        // final frame. Materialized inside the owned-cache block (the
        // q92 discipline) — the result is one bounded row per input doc.
        graft.operators.Curate.withExplained(
            synth, "doc_id", "text", cfg) { (fates, fin) =>
          fates.join(fin.select(col("doc_id"),
              col("text").as("final_text")), Seq("doc_id"), "left")
            .select(col("doc_id"), col("fate"),
              coalesce(col("final_text"), lit("")).as("final_text"))
            .localCheckpoint(true)
        }
          .orderBy("doc_id")
      },
      Some(s"""WITH synth AS (SELECT doc_id,
        |  'd' || CAST(doc_id % 7 AS VARCHAR) AS domain,
        |  '<html><body><p>' ||
        |  CASE WHEN doc_id % 25 = 0 THEN '$SharedPage' ELSE text END ||
        |  '</p>' ||
        |  CASE WHEN doc_id % 5 = 0 THEN ' <a href="x">visit</a> https://t.co/x?tok=' || CAST(doc_id AS VARCHAR) ELSE '' END ||
        |  CASE WHEN doc_id % 6 = 0 THEN ' mail a' || CAST(doc_id % 3 AS VARCHAR) || '@ex.com now' ELSE '' END ||
        |  '<script>var t = 1;</script></body></html>' AS text FROM documents),
        |h1 AS (SELECT doc_id, domain, regexp_replace(text, '(?s)<!--.*?-->', ' ', 'g') AS s FROM synth),
        |h2 AS (SELECT doc_id, domain, regexp_replace(s, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS s FROM h1),
        |h3 AS (SELECT doc_id, domain, regexp_replace(s, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS s FROM h2),
        |h4 AS (SELECT doc_id, domain, regexp_replace(s, '<[^>]*>', ' ', 'g') AS s FROM h3),
        |h4b AS (SELECT doc_id, domain, ${duckDecodeNumEntities("s")} AS s FROM h4),
        |h5 AS (SELECT doc_id, domain, ${duckDecodeNamedEntities("s")} AS s FROM h4b),
        |h6 AS (SELECT doc_id, domain, trim(regexp_replace(s, '\\s+', ' ', 'g')) AS s FROM h5),
        |red AS (SELECT doc_id, domain,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(s,
        |    'https?://[^\\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
        |    '\\+?\\d[\\d()]*[\\s\\-][\\d\\s\\-()]{4,}\\d', '<PHONE>', 'g') AS s FROM h6),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY domain
        |  ORDER BY length(s) DESC, doc_id) AS rnk FROM red),
        |capped AS (SELECT * FROM rk WHERE rnk <= 30),
        |ded AS (SELECT min(doc_id) AS doc_id FROM capped GROUP BY lower(trim(s))),
        |kept AS (SELECT c.doc_id, c.s FROM capped c JOIN ded USING (doc_id))
        |SELECT r.doc_id,
        |  CASE WHEN r.doc_id NOT IN (SELECT doc_id FROM capped) THEN 'domain_capped'
        |       WHEN r.doc_id NOT IN (SELECT doc_id FROM ded) THEN 'exact_dup'
        |       ELSE 'kept' END AS fate,
        |  coalesce(k.s, '') AS final_text
        |FROM red r LEFT JOIN kept k USING (doc_id)
        |ORDER BY r.doc_id""".stripMargin)),

    // KMV bottom-k containment sketch (r11) — q181's 100-TB path: the
    // exact form shuffles every distinct gram; the sketch keeps each
    // source's k SMALLEST gram hashes (a bounded merge-able synopsis)
    // and estimates pairwise Jaccard on the union's bottom-k sample.
    // Same planted fixture as q181 so the estimates track the exact
    // matrix. Every step is deterministic integer/array arithmetic on
    // the hash values — a sketch the oracle can hash-match, unusual and
    // deliberate. The salted pre-pass bounds the per-source sort group
    // (the domainCapSalted discipline).
    QueryDef("q184_containment_sketch",
      (s, d) => {
        val did = col("doc_id")
        val synth = Tables.documentsPar(s, d).select(col("source"),
          concat_ws(" ",
            col("text"),
            when(did % 4 === 0, lit(ShareA)),
            when(did % 3 === 0, lit(ShareB))).as("text"))
        graft.operators.Profile.crossSourceContainmentSketch(
          synth, "source", "text", n = 8, k = 128)
      },
      Some(s"""WITH synth AS (SELECT source, concat_ws(' ', text,
        |    CASE WHEN doc_id % 4 = 0 THEN '$ShareA' END,
        |    CASE WHEN doc_id % 3 = 0 THEN '$ShareB' END) AS text FROM documents),
        |t AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks FROM synth),
        |g AS (SELECT source, unnest(list_transform(range(0, greatest(len(toks)-7, 0)),
        |  i -> array_to_string(list_slice(toks, CAST(i+1 AS INT), CAST(i+8 AS INT)), ' '))) AS gram FROM t),
        |d AS (SELECT DISTINCT source, CAST('0x'||substr(md5(gram),18,15) AS BIGINT) AS gh FROM g),
        |bk AS (SELECT source, gh FROM (SELECT source, gh,
        |    row_number() OVER (PARTITION BY source ORDER BY gh) AS rn FROM d)
        |  WHERE rn <= 128),
        |srcs AS (SELECT DISTINCT source FROM synth),
        |st0 AS (SELECT source, list_sort(array_agg(gh)) AS bk FROM bk GROUP BY source),
        |st AS (SELECT srcs.source, coalesce(st0.bk, CAST([] AS BIGINT[])) AS bk
        |  FROM srcs LEFT JOIN st0 USING (source)),
        |p AS (SELECT a.source AS src_a, b.source AS src_b, a.bk AS bka, b.bk AS bkb
        |  FROM st a JOIN st b ON a.source < b.source),
        |u AS (SELECT src_a, src_b, bka, bkb,
        |  list_slice(list_sort(list_distinct(list_concat(bka, bkb))), 1, 128) AS uk FROM p),
        |e AS (SELECT src_a, src_b,
        |  CAST(len(uk) AS BIGINT) AS k_used,
        |  CAST(len(list_intersect(list_intersect(uk, bka), bkb)) AS BIGINT) AS inter_k,
        |  CASE WHEN len(bka) < 128 THEN CAST(len(bka) AS BIGINT)
        |    ELSE CAST((CAST(127 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT))
        |      // greatest(bka[128], 1) AS BIGINT) END AS n_a_est,
        |  CASE WHEN len(bkb) < 128 THEN CAST(len(bkb) AS BIGINT)
        |    ELSE CAST((CAST(127 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT))
        |      // greatest(bkb[128], 1) AS BIGINT) END AS n_b_est,
        |  CASE WHEN len(uk) < 128 THEN CAST(len(uk) AS BIGINT)
        |    ELSE CAST((CAST(127 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT))
        |      // greatest(uk[128], 1) AS BIGINT) END AS union_est
        |  FROM u),
        |ie AS (SELECT *, CAST((CAST(inter_k AS HUGEINT) * union_est)
        |  // greatest(k_used, 1) AS BIGINT) AS inter_est FROM e)
        |SELECT src_a, src_b, k_used, inter_k,
        |  inter_k * 1000 // greatest(k_used, 1) AS jac_est_permille,
        |  n_a_est, n_b_est, union_est, inter_est,
        |  CAST((CAST(inter_est AS HUGEINT) * 1000)
        |    // greatest(n_a_est, 1) AS BIGINT) AS cont_a_in_b_est_permille,
        |  CAST((CAST(inter_est AS HUGEINT) * 1000)
        |    // greatest(n_b_est, 1) AS BIGINT) AS cont_b_in_a_est_permille
        |FROM ie ORDER BY src_a, src_b""".stripMargin)),

    // Sketch-vs-exact ACCURACY audit (r11): per source pair, the exact
    // Jaccard (q181's matrix) next to the KMV estimate (q184's sketch)
    // and the absolute error — the table an operator reads BEFORE
    // trusting the k=128 synopsis at 100 TB, produced by the engine
    // itself rather than taken on faith from the KMV literature. Both
    // sides share one gram derivation; the join is |S|² rows.
    QueryDef("q185_sketch_accuracy",
      (s, d) => {
        val did = col("doc_id")
        val synth = Tables.documentsPar(s, d).select(col("source"),
          concat_ws(" ",
            col("text"),
            when(did % 4 === 0, lit(ShareA)),
            when(did % 3 === 0, lit(ShareB))).as("text"))
        val P = graft.operators.Profile
        val exact = P.crossSourceContainment(synth, "source", "text", n = 8)
          .select(col("src_a"), col("src_b"),
            expr("inter * 1000L div greatest(n_a + n_b - inter, 1L)")
              .as("jac_permille"),
            col("cont_a_in_b_permille").as("cont_a_permille"),
            col("cont_b_in_a_permille").as("cont_b_permille"))
        val sk = P.crossSourceContainmentSketch(synth, "source", "text",
            n = 8, k = 128)
          .select(col("src_a"), col("src_b"), col("jac_est_permille"),
            col("cont_a_in_b_est_permille").as("cont_a_est_permille"),
            col("cont_b_in_a_est_permille").as("cont_b_est_permille"))
        exact.join(sk, Seq("src_a", "src_b"))
          .withColumn("abs_err_permille",
            abs(col("jac_permille") - col("jac_est_permille")))
          .withColumn("abs_err_cont_a_permille",
            abs(col("cont_a_permille") - col("cont_a_est_permille")))
          .withColumn("abs_err_cont_b_permille",
            abs(col("cont_b_permille") - col("cont_b_est_permille")))
          .orderBy("src_a", "src_b")
      },
      Some(s"""WITH synth AS (SELECT source, concat_ws(' ', text,
        |    CASE WHEN doc_id % 4 = 0 THEN '$ShareA' END,
        |    CASE WHEN doc_id % 3 = 0 THEN '$ShareB' END) AS text FROM documents),
        |t AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks FROM synth),
        |g AS (SELECT source, unnest(list_transform(range(0, greatest(len(toks)-7, 0)),
        |  i -> array_to_string(list_slice(toks, CAST(i+1 AS INT), CAST(i+8 AS INT)), ' '))) AS gram FROM t),
        |d AS (SELECT DISTINCT source, CAST('0x'||substr(md5(gram),18,15) AS BIGINT) AS gh FROM g),
        |srcs AS (SELECT DISTINCT source FROM synth),
        |sz0 AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY source),
        |sz AS (SELECT srcs.source, coalesce(sz0.n, CAST(0 AS BIGINT)) AS n
        |  FROM srcs LEFT JOIN sz0 USING (source)),
        |p AS (SELECT a.source AS src_a, b.source AS src_b, a.n AS n_a, b.n AS n_b
        |  FROM sz a JOIN sz b ON a.source < b.source),
        |iv AS (SELECT da.source AS src_a, db.source AS src_b, CAST(count(*) AS BIGINT) AS inter
        |  FROM d da JOIN d db ON da.gh = db.gh AND da.source < db.source GROUP BY 1, 2),
        |ex AS (SELECT p.src_a, p.src_b,
        |  coalesce(iv.inter, CAST(0 AS BIGINT)) * 1000
        |    // greatest(p.n_a + p.n_b - coalesce(iv.inter, CAST(0 AS BIGINT)), 1) AS jac_permille,
        |  coalesce(iv.inter, CAST(0 AS BIGINT)) * 1000
        |    // greatest(p.n_a, 1) AS cont_a_permille,
        |  coalesce(iv.inter, CAST(0 AS BIGINT)) * 1000
        |    // greatest(p.n_b, 1) AS cont_b_permille
        |  FROM p LEFT JOIN iv USING (src_a, src_b)),
        |bk AS (SELECT source, gh FROM (SELECT source, gh,
        |    row_number() OVER (PARTITION BY source ORDER BY gh) AS rn FROM d)
        |  WHERE rn <= 128),
        |st0 AS (SELECT source, list_sort(array_agg(gh)) AS bk FROM bk GROUP BY source),
        |st AS (SELECT srcs.source, coalesce(st0.bk, CAST([] AS BIGINT[])) AS bk
        |  FROM srcs LEFT JOIN st0 USING (source)),
        |pp AS (SELECT a.source AS src_a, b.source AS src_b, a.bk AS bka, b.bk AS bkb
        |  FROM st a JOIN st b ON a.source < b.source),
        |u AS (SELECT src_a, src_b,
        |  list_slice(list_sort(list_distinct(list_concat(bka, bkb))), 1, 128) AS uk,
        |  bka, bkb FROM pp),
        |se AS (SELECT src_a, src_b,
        |  CAST(len(uk) AS BIGINT) AS k_used,
        |  CAST(len(list_intersect(list_intersect(uk, bka), bkb)) AS BIGINT) AS inter_k,
        |  CASE WHEN len(bka) < 128 THEN CAST(len(bka) AS BIGINT)
        |    ELSE CAST((CAST(127 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT))
        |      // greatest(bka[128], 1) AS BIGINT) END AS n_a_est,
        |  CASE WHEN len(bkb) < 128 THEN CAST(len(bkb) AS BIGINT)
        |    ELSE CAST((CAST(127 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT))
        |      // greatest(bkb[128], 1) AS BIGINT) END AS n_b_est,
        |  CASE WHEN len(uk) < 128 THEN CAST(len(uk) AS BIGINT)
        |    ELSE CAST((CAST(127 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT))
        |      // greatest(uk[128], 1) AS BIGINT) END AS union_est
        |  FROM u),
        |sk AS (SELECT src_a, src_b,
        |  inter_k * 1000 // greatest(k_used, 1) AS jac_est_permille,
        |  CAST((CAST(CAST((CAST(inter_k AS HUGEINT) * union_est)
        |      // greatest(k_used, 1) AS BIGINT) AS HUGEINT) * 1000)
        |    // greatest(n_a_est, 1) AS BIGINT) AS cont_a_est_permille,
        |  CAST((CAST(CAST((CAST(inter_k AS HUGEINT) * union_est)
        |      // greatest(k_used, 1) AS BIGINT) AS HUGEINT) * 1000)
        |    // greatest(n_b_est, 1) AS BIGINT) AS cont_b_est_permille
        |  FROM se)
        |SELECT ex.src_a, ex.src_b, ex.jac_permille, ex.cont_a_permille,
        |  ex.cont_b_permille, sk.jac_est_permille, sk.cont_a_est_permille,
        |  sk.cont_b_est_permille,
        |  abs(ex.jac_permille - sk.jac_est_permille) AS abs_err_permille,
        |  abs(ex.cont_a_permille - sk.cont_a_est_permille) AS abs_err_cont_a_permille,
        |  abs(ex.cont_b_permille - sk.cont_b_est_permille) AS abs_err_cont_b_permille
        |FROM ex JOIN sk USING (src_a, src_b)
        |ORDER BY src_a, src_b""".stripMargin)),

    // PSL-backed per-domain cap (r12): q167's domain-cap workflow run
    // through the PRODUCTION eTLD+1 — Web.registeredDomainPsl over the
    // build-pinned Mozilla Public Suffix List — instead of the built-in
    // 16-suffix fixture list. Hosts are synthesized over one suffix of
    // each RULE CLASS (plain TLD, ICANN multi-part co.uk, PRIVATE-section
    // github.io, wildcard *.ck, exception !www.ck, unknown TLD → the
    // implicit * rule), so the oracle can replay each class's planted
    // truth without re-implementing the PSL walk; the exception class
    // collapses EVERY source into the single domain www.ck — the
    // cross-source cap-pressure case. The full 11.5k-rule algorithm
    // itself (longest-match, two-pass exception precedence, fail-soft
    // degenerates) is pinned in WebSpec.
    QueryDef("q186_psl_domain_cap",
      (s, d) => {
        val did = col("doc_id")
        val hosts = Tables.documents(s, d).select(did, col("n_chars"),
          concat(
            lit("sub"), (did % 7).cast("string"), lit("."),
            lower(col("source")), lit("site"),
            when(did % 6 === 0, lit(".com"))
              .when(did % 6 === 1, lit(".co.uk"))
              .when(did % 6 === 2, lit(".github.io"))
              .when(did % 6 === 3, lit(".stuff.ck"))
              .when(did % 6 === 4, lit(".www.ck"))
              .otherwise(lit(".zzunknown"))).as("host"))
        val dom = hosts.withColumn("domain",
          Web.registeredDomainPsl(col("host")))
        Web.domainCap(dom, "domain", maxPerDomain = 16,
            col("n_chars").desc, col("doc_id").asc)
          .select("doc_id", "host", "domain", "domain_rank", "kept")
          .orderBy("doc_id")
      },
      Some("""WITH h AS (SELECT doc_id, n_chars, source,
        |  'sub' || CAST(doc_id % 7 AS VARCHAR) || '.' || lower(source) || 'site' ||
        |  (CASE WHEN doc_id % 6 = 0 THEN '.com'
        |        WHEN doc_id % 6 = 1 THEN '.co.uk'
        |        WHEN doc_id % 6 = 2 THEN '.github.io'
        |        WHEN doc_id % 6 = 3 THEN '.stuff.ck'
        |        WHEN doc_id % 6 = 4 THEN '.www.ck'
        |        ELSE '.zzunknown' END) AS host FROM documents),
        |d2 AS (SELECT doc_id, n_chars, host,
        |  CASE WHEN doc_id % 6 = 0 THEN lower(source) || 'site.com'
        |       WHEN doc_id % 6 = 1 THEN lower(source) || 'site.co.uk'
        |       WHEN doc_id % 6 = 2 THEN lower(source) || 'site.github.io'
        |       WHEN doc_id % 6 = 3 THEN lower(source) || 'site.stuff.ck'
        |       WHEN doc_id % 6 = 4 THEN 'www.ck'
        |       ELSE lower(source) || 'site.zzunknown' END AS domain FROM h),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY domain
        |  ORDER BY n_chars DESC, doc_id) AS BIGINT) AS domain_rank FROM d2)
        |SELECT doc_id, host, domain, domain_rank,
        |  CAST(CASE WHEN domain_rank <= 16 THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM r ORDER BY doc_id""".stripMargin)),

    // Unicode-folded exact dedup (r12): the multilingual rung of the
    // exact ladder — NFC + accent fold + lowercase as the group key
    // (Dedup.exactFolded), so composed vs decomposed forms ("Café" with
    // U+00E9 vs "Cafe" + combining U+0301) and diacritic-stripped
    // mirrors collide, while DISTINCT base letters (ø vs o) stay apart.
    // Both engines synthesize the same bytes (chr() in SQL, \uXXXX in
    // Scala) and fold with byte-equal functions: JVM Normalizer
    // NFC/NFD-drop-Mn-NFC agrees with DuckDB nfc_normalize /
    // strip_accents (probed divergence-free on 32 cases incl. Hangul
    // recomposition and non-decomposables — see UnicodeNormalizeUtil).
    QueryDef("q187_unicode_dedup",
      (s, d) => {
        val did = col("doc_id")
        val synth = Tables.documents(s, d).select(did,
          concat(
            // explicit \u escapes, NOT literal chars: the NFC form
            // (U+00E9) and the NFD form (e + combining U+0301) render
            // identically, so only the escape makes the plant auditable
            when(did % 3 === 0, lit("Caf\u00e9 "))
              .when(did % 3 === 1, lit("Cafe\u0301 "))
              .otherwise(lit("cafe ")),
            lit("review "), (did % 50).cast("string"), lit(" "),
            when(did % 7 === 0, lit("\u00f8")).otherwise(lit("o")))
            .as("text"))
        Dedup.exactFolded(synth, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH synth AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'Caf' || chr(233) || ' '
        |        WHEN doc_id % 3 = 1 THEN 'Cafe' || chr(769) || ' '
        |        ELSE 'cafe ' END) ||
        |  'review ' || CAST(doc_id % 50 AS VARCHAR) || ' ' ||
        |  (CASE WHEN doc_id % 7 = 0 THEN chr(248) ELSE 'o' END) AS text
        |  FROM documents),
        |f AS (SELECT doc_id, lower(strip_accents(nfc_normalize(text))) AS folded
        |  FROM synth)
        |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, folded,
        |  CAST(count(*) AS BIGINT) AS group_size
        |FROM f GROUP BY folded ORDER BY doc_id""".stripMargin)),

    // Fold-aware FUZZY dedup (r13, VERDICT r12 #2): q17's full
    // MinHash+LSH machinery run on the FOLDED text (NFC + accent fold +
    // lower — Dedup.textKeyFor's "folded", the q187 key applied before
    // shingling, the CCNet normalize-then-hash order). Each did%250
    // group shares a long accented preamble in three byte-DIFFERENT
    // renditions (NFC, NFD combining marks, uppercase NFD) plus an
    // md5-derived group body (high cross-group entropy keeps band
    // buckets group-local) and a per-doc unique suffix, so the planted
    // variant pairs surface as the top near-dups ONLY because the fold
    // runs first — the raw-byte contrast is ScalaTest-pinned
    // (DedupSpec); the oracle replays fold → shingle → minhash → bands
    // → exact Jaccard, arithmetic step for step.
    QueryDef("q188_folded_minhash",
      (s, d) => {
        val did = col("doc_id")
        // group modulus scales WITH the corpus (n/20 \u2192 ~20 docs per
        // near-dup group at every SF): a fixed modulus made group size
        // \u2014 and the fixed-geometry band join's candidates \u2014 grow
        // quadratically with the fixture (the r13 sweep flagged it);
        // the oracle derives the same modulus from its own count(*)
        val groups = math.max(Tables.documents(s, d).count() / 20L, 1L)
        val synth = Tables.documents(s, d).select(did,
          concat(
            when(did % 3 === 0, lit("Caf\u00e9 s\u00e9ance d\u00e9j\u00e0 " +
              "cr\u00e8me br\u00fbl\u00e9e "))
              .when(did % 3 === 1, lit("Cafe\u0301 se\u0301ance " +
                "de\u0301ja\u0300 cre\u0300me bru\u0302le\u0301e "))
              .otherwise(lit("CAFE\u0301 SE\u0301ANCE DE\u0301JA\u0300 " +
                "CRE\u0300ME BRU\u0302LE\u0301E ")),
            md5((did % groups).cast("string")),
            lit(" u"), did.cast("string")).as("text"))
        // scoped form + in-block materialize of the bounded top-10 (r16,
        // ADVICE r15 — the q17 treatment)
        Dedup.withMinhashPairs(synth, "doc_id", "text",
            keyForm = "folded") { pairs =>
          pairs.orderBy(col("jac").desc, col("a").asc, col("b").asc)
            .limit(10)
            .localCheckpoint(true)
        }
      },
      Some(s"""WITH synth AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'Caf'||chr(233)||' s'||chr(233)||'ance d'||chr(233)||'j'||chr(224)||' cr'||chr(232)||'me br'||chr(251)||'l'||chr(233)||'e '
        |        WHEN doc_id % 3 = 1 THEN 'Cafe'||chr(769)||' se'||chr(769)||'ance de'||chr(769)||'ja'||chr(768)||' cre'||chr(768)||'me bru'||chr(770)||'le'||chr(769)||'e '
        |        ELSE 'CAFE'||chr(769)||' SE'||chr(769)||'ANCE DE'||chr(769)||'JA'||chr(768)||' CRE'||chr(768)||'ME BRU'||chr(770)||'LE'||chr(769)||'E ' END)
        |  || md5(CAST(doc_id % (SELECT greatest(count(*) // 20, 1) FROM documents) AS VARCHAR)) || ' u' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |f AS (SELECT doc_id, lower(strip_accents(nfc_normalize(text))) AS ftext FROM synth),
        |sh AS (SELECT doc_id, ${duckShinglesOf("ftext")} AS shingles FROM f),
        |hv AS (SELECT doc_id, shingles, list_transform(shingles, s -> CAST('0x'||substr(md5(s),25,8) AS BIGINT)) AS hs FROM sh),
        |sig AS (SELECT doc_id, list_transform(range(0,16), k -> list_min(list_transform(hs, x -> (x*(2*k+1) + (1000000007*k+17)) % 4294967311))) AS sg FROM hv),
        |bands AS (SELECT doc_id, j AS band_idx,
        |  CAST(sg[4*CAST(j AS INT)+1] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+2] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+3] AS VARCHAR)||':'||CAST(sg[4*CAST(j AS INT)+4] AS VARCHAR) AS band_key
        |  FROM sig, range(0,4) t(j)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
        |  ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |pairs AS (SELECT c.a, c.b,
        |  CAST(length(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        |    (length(sa.shingles) + length(sb.shingles) - length(list_intersect(sa.shingles, sb.shingles))) AS jac
        |  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b)
        |SELECT a, b, jac FROM pairs ORDER BY jac DESC, a ASC, b ASC LIMIT 10""".stripMargin)),

    // Fold-aware LINE dedup (r13, VERDICT r12 #2): q166's boilerplate
    // scrub with the line KEY folded (Dedup.lineDedup keyForm="folded")
    // \u2014 the three byte-different renditions of the planted banner (NFC,
    // NFD, uppercase NFD) hash to ONE key, so the banner is removed
    // from EVERY doc while output lines keep each doc's original bytes.
    // The byte-key contrast (each rendition would otherwise dedup only
    // within its own %3 class) is DedupSpec-pinned; the oracle replays
    // the folded key line for line.
    QueryDef("q189_folded_line_dedup",
      (s, d) => {
        val did = col("doc_id")
        val synth = Tables.documents(s, d).select(did,
          concat_ws("\n",
            col("text"),
            when(did % 3 === 0,
              lit("Abonnez-vous \u00e0 notre newsletter d\u00e8s maintenant"))
              .when(did % 3 === 1,
                lit("Abonnez-vous a\u0300 notre newsletter de\u0300s maintenant"))
              .otherwise(
                lit("ABONNEZ-VOUS A\u0300 NOTRE NEWSLETTER DE\u0300S MAINTENANT")),
            when(did % 17 === 0, concat(lit("ref code "), did)))
            .as("text"))
        Dedup.lineDedup(synth, "doc_id", "text", minDocs = 2,
            keyForm = "folded")
          .orderBy("doc_id")
      },
      Some("""WITH synth AS (SELECT doc_id, concat_ws(chr(10), text,
        |    CASE WHEN doc_id % 3 = 0 THEN 'Abonnez-vous '||chr(224)||' notre newsletter d'||chr(232)||'s maintenant'
        |         WHEN doc_id % 3 = 1 THEN 'Abonnez-vous a'||chr(768)||' notre newsletter de'||chr(768)||'s maintenant'
        |         ELSE 'ABONNEZ-VOUS A'||chr(768)||' NOTRE NEWSLETTER DE'||chr(768)||'S MAINTENANT' END,
        |    CASE WHEN doc_id % 17 = 0 THEN 'ref code ' || CAST(doc_id AS VARCHAR) END) AS text
        |  FROM documents),
        |l AS (SELECT doc_id, CAST(generate_subscripts(ls, 1) - 1 AS INT) AS pos, unnest(ls) AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM synth)),
        |h AS (SELECT doc_id, pos, line,
        |  CAST('0x'||substr(md5(lower(strip_accents(nfc_normalize(line)))),18,15) AS BIGINT) AS lh FROM l),
        |hot AS (SELECT lh FROM h WHERE trim(line) <> ''
        |  GROUP BY lh HAVING count(DISTINCT doc_id) >= 2),
        |kept AS (SELECT * FROM h WHERE lh NOT IN (SELECT lh FROM hot)),
        |base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM h GROUP BY doc_id),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, b.n_lines,
        |  b.n_lines - coalesce(a.n_kept, CAST(0 AS BIGINT)) AS removed_lines,
        |  coalesce(a.clean_text, '') AS clean_text
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // RETUNED twins of the fixed-geometry LSH baselines (r13, VERDICT
    // r12 #5). q64/q121/q148/q152 keep their 16-hash/4-band forms as
    // the ORACLE-CHECKED correctness baselines (a runtime-chosen band
    // geometry is not DuckDB-replayable — the q180 rule), and these
    // four run the SAME downstream operators under the geometry the
    // calibration loop actually chooses (minhashPairsRetuned at target
    // 0.95 = near-exact dups, the production dedup target; SCALE.md
    // measured the 4×4→2×8 retune collapsing 10× candidates −99.5%).
    // The 10× sweep now measures THESE as the scale rows; the fixed
    // forms stay oracle/spec-pinned but are no longer sweep rows.
    // Rows-only (no oracle) by the q180 precedent; the q17/q64-family
    // oracles already pin the shared machinery's arithmetic.
    QueryDef("q190_dedup_clusters_retuned",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.count()
        val f = math.min(1.0, 4000.0 / math.max(n, 1L))
        val (pairs, _) = Dedup.minhashPairsRetuned(docs, "doc_id", "text",
          targetJaccard = 0.95, candidateBudget = 50000000L,
          sampleFraction = f)
        Graph.dedupClusters(pairs.where(col("jac") >= 0.5), "a", "b")
          .orderBy(col("component").asc)
      },
      None),

    // q121's leakage-safe split under retuned geometry — same
    // cluster-then-bucket policy, production band load.
    QueryDef("q191_leakage_split_retuned",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.count()
        val f = math.min(1.0, 4000.0 / math.max(n, 1L))
        val (pairs, _) = Dedup.minhashPairsRetuned(docs, "doc_id", "text",
          targetJaccard = 0.95, candidateBudget = 50000000L,
          sampleFraction = f)
        val cc = Graph.connectedComponents(
          pairs.where(col("jac") >= 0.5), "a", "b")
        val clustered = docs.select(col("doc_id"))
          .join(cc.select(col("id").as("doc_id"), col("component")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("cluster"))
        val b = graft.functions.TextFunctions.md5Bucket(
          col("cluster").cast("string"), 100, salt = "leak:")
        clustered
          .groupBy(when(b < 80, "train").otherwise("heldout").as("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster")).as("n_clusters"))
          .orderBy("split")
      },
      None),

    // q148's best-representative selection under retuned geometry.
    QueryDef("q192_cluster_best_rep_retuned",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.count()
        val f = math.min(1.0, 4000.0 / math.max(n, 1L))
        val (pairs, _) = Dedup.minhashPairsRetuned(docs, "doc_id", "text",
          targetJaccard = 0.95, candidateBudget = 50000000L,
          sampleFraction = f)
        val cc = Graph.connectedComponents(
          pairs.where(col("jac") >= 0.5), "a", "b")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("component"))
          .orderBy(col("n_chars").desc, col("id").asc)
        cc.join(docs.select(col("doc_id").as("id"),
            col("n_chars").cast("long").as("n_chars")), "id")
          .withColumn("rn", row_number().over(w))
          .groupBy(col("component"))
          .agg(max(when(col("rn") === 1, col("id"))).as("rep_id"),
            max(when(col("rn") === 1, col("n_chars"))).as("rep_chars"),
            count(lit(1)).as("n_members"))
          .orderBy("component")
      },
      None),

    // q152's calibration run the way the scaladoc prescribes for scale:
    // on a SAMPLE (the histogram's diagonal shape is sampling-stable),
    // budget-guarded — the tool's production form. The sample is
    // Spark-seeded (not DuckDB-replayable) → rows-only.
    QueryDef("q193_calibration_sampled",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.count()
        val f = math.min(1.0, 4000.0 / math.max(n, 1L))
        Dedup.minhashCalibration(docs, "doc_id", "text",
          sampleFraction = Some(f), maxCandidates = Some(50000000L))
      },
      None),

    // Fold-aware SIMHASH (r14, VERDICT r13 #1): q33's lossless
    // pigeonhole-bucketed hamming join run on the FOLDED token stream
    // (Dedup.textKeyFor "folded" before tokenizing — simhash needs no
    // positional rebuild, so the whole-text fold is the right grain).
    // Each did%(n/20) group carries one of three byte-DIFFERENT
    // renditions of an accented preamble (NFC / NFD combining marks /
    // uppercase NFD) plus a group-shared md5 body, so within-group
    // pairs fold to IDENTICAL text → hamming 0 — only because the fold
    // runs first (the raw contrast is DedupSpec-pinned). The oracle
    // replays fold → token md5s → 60-bit simhash bits → full quadratic
    // hamming, so the hash match also re-proves bucketing losslessness
    // under the fold.
    QueryDef("q194_folded_simhash",
      (s, d) => {
        val did = col("doc_id")
        val groups = math.max(Tables.documents(s, d).count() / 20L, 1L)
        // the per-group body is SIX md5 tokens, not one: simhash is a
        // per-token majority vote, so a 6-token shared preamble with a
        // 1-token body left every group's hash near-identical and the
        // pigeonhole buckets corpus-wide (the first cut measured 81x at
        // 10x — quadratic bucket density, the q188 fixed-modulus class);
        // six body tokens out-vote the preamble on most bits, so
        // buckets stay group-local and the sweep measures the engine,
        // not the fixture. Explicit \u escapes (the q188 rule).
        val g = (did % groups).cast("string")
        val body = concat_ws(" ", (0 until 6).map(i =>
          md5(concat(g, lit(s"-$i")))): _*)
        val synth = Tables.documents(s, d).select(did,
          concat(
            when(did % 3 === 0, lit("s\u00e9ance d\u00e9j\u00e0 " +
              "caf\u00e9 cr\u00e8me br\u00fbl\u00e9e tr\u00e8s "))
              .when(did % 3 === 1, lit("se\u0301ance de\u0301ja\u0300 " +
                "cafe\u0301 cre\u0300me bru\u0302le\u0301e tre\u0300s "))
              .otherwise(lit("SE\u0301ANCE DE\u0301JA\u0300 CAFE\u0301 " +
                "CRE\u0300ME BRU\u0302LE\u0301E TRE\u0300S ")),
            body).as("text"))
        Dedup.simhashPairsBucketed(synth, "doc_id", "text",
            maxHamming = 2, keyForm = "folded")
          .orderBy(col("ham").asc, col("a").asc, col("b").asc)
          .limit(20)
      },
      Some("""WITH gcnt AS (SELECT greatest(count(*) // 20, 1) AS g FROM documents),
        |synth AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN 's'||chr(233)||'ance d'||chr(233)||'j'||chr(224)||' caf'||chr(233)||' cr'||chr(232)||'me br'||chr(251)||'l'||chr(233)||'e tr'||chr(232)||'s '
        |        WHEN doc_id % 3 = 1 THEN 'se'||chr(769)||'ance de'||chr(769)||'ja'||chr(768)||' cafe'||chr(769)||' cre'||chr(768)||'me bru'||chr(770)||'le'||chr(769)||'e tre'||chr(768)||'s '
        |        ELSE 'SE'||chr(769)||'ANCE DE'||chr(769)||'JA'||chr(768)||' CAFE'||chr(769)||' CRE'||chr(768)||'ME BRU'||chr(770)||'LE'||chr(769)||'E TRE'||chr(768)||'S ' END)
        |  || array_to_string(list_transform(range(0, 6), i -> md5(CAST(doc_id % gcnt.g AS VARCHAR) || '-' || CAST(i AS VARCHAR))), ' ') AS text
        |  FROM documents, gcnt),
        |hv AS (SELECT doc_id, list_transform(
        |  regexp_split_to_array(trim(lower(strip_accents(nfc_normalize(text)))), '\s+'),
        |  t -> CAST('0x'||substr(md5(t),18,15) AS BIGINT)) AS hv FROM synth),
        |sh AS (SELECT doc_id, CAST(list_sum(list_transform(range(0,60), j ->
        |  CASE WHEN CAST(list_sum(list_transform(hv, h -> CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0
        |  THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END)) AS BIGINT) AS sh FROM hv)
        |SELECT x.doc_id AS a, y.doc_id AS b, CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS ham
        |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.sh, y.sh)) <= 2
        |ORDER BY ham ASC, a ASC, b ASC LIMIT 20""".stripMargin)),

    // Fold-aware SPAN SCRUB (r14, VERDICT r13 #1): q153's keep-first
    // overlapping-window machine with gram KEYS hashed over the
    // per-token-folded stream (Dedup.cdcTokenKey \u2014 fold preserves token
    // arity, so folded window positions index the ORIGINAL tokens 1:1)
    // while clean_text keeps each doc's own bytes. Every doc plants one
    // of three renditions of an 8-token accented passage behind a
    // variable-length unique prefix (offsets differ, so chunk-aligned
    // dedup would miss it); did%7=3 rows are short clean controls. Only
    // the fold makes the three renditions one gram key \u2014 the corpus-
    // wide first occurrence survives, every other copy is cut. The
    // oracle replays fold \u2192 positioned grams \u2192 first-occurrence \u2192
    // island merge \u2192 interval rebuild, step for step.
    QueryDef("q195_folded_span_scrub",
      (s, d) => {
        val did = col("doc_id")
        val passage = Seq(
          "s\u00e9ance d\u00e9j\u00e0 caf\u00e9 cr\u00e8me " +
            "br\u00fbl\u00e9e tr\u00e8s pr\u00e8s voil\u00e0",
          "se\u0301ance de\u0301ja\u0300 cafe\u0301 cre\u0300me " +
            "bru\u0302le\u0301e tre\u0300s pre\u0300s voila\u0300",
          "SE\u0301ANCE DE\u0301JA\u0300 CAFE\u0301 CRE\u0300ME " +
            "BRU\u0302LE\u0301E TRE\u0300S PRE\u0300S VOILA\u0300")
        val synth = Tables.documents(s, d).select(did,
          when(did % 7 === 3,
            concat(lit("clean only here now c"), did.cast("string")))
            .otherwise(concat(
              expr("repeat(concat('p', CAST(doc_id AS STRING), ' '), " +
                "CAST(doc_id % 4 + 1 AS INT))"),
              when(did % 3 === 0, lit(passage(0)))
                .when(did % 3 === 1, lit(passage(1)))
                .otherwise(lit(passage(2))),
              lit(" u"), did.cast("string"))).as("text"))
        Dedup.dupSpanScrub(synth, "doc_id", "text", n = 8,
            keyForm = "folded")
          .orderBy(col("doc_id"))
      },
      Some("""WITH synth AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 3 THEN 'clean only here now c' || CAST(doc_id AS VARCHAR)
        |  ELSE repeat('p' || CAST(doc_id AS VARCHAR) || ' ', CAST(doc_id % 4 + 1 AS INT)) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 's'||chr(233)||'ance d'||chr(233)||'j'||chr(224)||' caf'||chr(233)||' cr'||chr(232)||'me br'||chr(251)||'l'||chr(233)||'e tr'||chr(232)||'s pr'||chr(232)||'s voil'||chr(224)
        |          WHEN doc_id % 3 = 1 THEN 'se'||chr(769)||'ance de'||chr(769)||'ja'||chr(768)||' cafe'||chr(769)||' cre'||chr(768)||'me bru'||chr(770)||'le'||chr(769)||'e tre'||chr(768)||'s pre'||chr(768)||'s voila'||chr(768)
        |          ELSE 'SE'||chr(769)||'ANCE DE'||chr(769)||'JA'||chr(768)||' CAFE'||chr(769)||' CRE'||chr(768)||'ME BRU'||chr(770)||'LE'||chr(769)||'E TRE'||chr(768)||'S PRE'||chr(768)||'S VOILA'||chr(768) END)
        |    || ' u' || CAST(doc_id AS VARCHAR) END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM synth),
        |kt AS (SELECT doc_id, toks, list_transform(toks,
        |  x -> regexp_replace(lower(strip_accents(nfc_normalize(x))), '\s+', '', 'g')) AS ktoks FROM t),
        |c AS (SELECT doc_id, toks, list_transform(range(0, greatest(length(ktoks)-7, 0)),
        |  i -> array_to_string(list_slice(ktoks, CAST(i+1 AS INT), CAST(i+8 AS INT)), ' ')) AS grams FROM kt),
        |e AS (SELECT doc_id, CAST(generate_subscripts(grams, 1) - 1 AS INT) AS pos, unnest(grams) AS gram FROM c),
        |h AS (SELECT doc_id, pos, CAST('0x'||substr(md5(gram),18,15) AS BIGINT) AS gh FROM e),
        |f AS (SELECT gh, min(doc_id*1048576 + pos) AS fo, count(*) AS cnt FROM h GROUP BY gh),
        |rem AS (SELECT h.doc_id, h.pos, h.pos + 8 AS e FROM h JOIN f ON h.gh = f.gh
        |  WHERE f.cnt >= 2 AND h.doc_id*1048576 + h.pos > f.fo),
        |w AS (SELECT doc_id, pos, e, max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM rem),
        |i0 AS (SELECT doc_id, pos, e, CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END AS ni FROM w),
        |i1 AS (SELECT doc_id, pos, e, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM i0),
        |isl AS (SELECT doc_id, isl, min(pos) AS s, max(e) AS en FROM i1 GROUP BY doc_id, isl),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(en - s) AS BIGINT) AS removed_tokens FROM isl GROUP BY doc_id),
        |tp AS (SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS INT) AS tpos, unnest(toks) AS tok FROM t),
        |keep AS (SELECT tp.doc_id, tp.tpos, tp.tok FROM tp WHERE NOT EXISTS
        |  (SELECT 1 FROM isl WHERE isl.doc_id = tp.doc_id AND tp.tpos >= isl.s AND tp.tpos < isl.en)),
        |k AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text FROM keep GROUP BY doc_id)
        |SELECT t.doc_id, CAST(length(t.toks) AS BIGINT) AS n_tokens,
        |  coalesce(d.n_spans, CAST(0 AS BIGINT)) AS n_spans,
        |  coalesce(d.removed_tokens, CAST(0 AS BIGINT)) AS removed_tokens,
        |  coalesce(k.clean_text, '') AS clean_text
        |FROM t LEFT JOIN d USING (doc_id) LEFT JOIN k USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin)),

    // Fold-aware PPJOIN (r14, VERDICT r13 #1): q98's lossless prefix-
    // filtered set-similarity join over FOLDED word sets. Each
    // did%(n/20) group shares a 10-token accented preamble in three
    // byte-different renditions plus a group md5 body token; each doc
    // adds one unique token \u2014 within-group folded sets intersect 11 of
    // union 13 (jac 11/13 \u2265 4/5, all-integer arithmetic), cross-group
    // 10 of 14 (< 4/5), so the qualifying set is exactly the planted
    // groups and ONLY under the fold. The oracle is the full quadratic
    // folded-set join \u2014 the hash match re-proves prefix-filter
    // losslessness on the folded stream.
    QueryDef("q196_folded_ppjoin",
      (s, d) => {
        val did = col("doc_id")
        val groups = math.max(Tables.documents(s, d).count() / 20L, 1L)
        val synth = Tables.documents(s, d).select(did,
          concat(
            when(did % 3 === 0, lit("s\u00e9ance d\u00e9j\u00e0 " +
              "caf\u00e9 cr\u00e8me br\u00fbl\u00e9e tr\u00e8s " +
              "pr\u00e8s voil\u00e0 \u00e9l\u00e8ve h\u00f4tel "))
              .when(did % 3 === 1, lit("se\u0301ance de\u0301ja\u0300 " +
                "cafe\u0301 cre\u0300me bru\u0302le\u0301e tre\u0300s " +
                "pre\u0300s voila\u0300 e\u0301le\u0300ve ho\u0302tel "))
              .otherwise(lit("SE\u0301ANCE DE\u0301JA\u0300 CAFE\u0301 " +
                "CRE\u0300ME BRU\u0302LE\u0301E TRE\u0300S PRE\u0300S " +
                "VOILA\u0300 E\u0301LE\u0300VE HO\u0302TEL ")),
            md5((did % groups).cast("string")),
            lit(" u"), did.cast("string")).as("text"))
        Dedup.jaccardPairsPrefix(synth, "doc_id", "text",
            tNum = 4, tDen = 5, keyForm = "folded")
          .orderBy(col("jac").desc, col("a").asc, col("b").asc)
          .limit(20)
      },
      Some("""WITH synth AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN 's'||chr(233)||'ance d'||chr(233)||'j'||chr(224)||' caf'||chr(233)||' cr'||chr(232)||'me br'||chr(251)||'l'||chr(233)||'e tr'||chr(232)||'s pr'||chr(232)||'s voil'||chr(224)||' '||chr(233)||'l'||chr(232)||'ve h'||chr(244)||'tel '
        |        WHEN doc_id % 3 = 1 THEN 'se'||chr(769)||'ance de'||chr(769)||'ja'||chr(768)||' cafe'||chr(769)||' cre'||chr(768)||'me bru'||chr(770)||'le'||chr(769)||'e tre'||chr(768)||'s pre'||chr(768)||'s voila'||chr(768)||' e'||chr(769)||'le'||chr(768)||'ve ho'||chr(770)||'tel '
        |        ELSE 'SE'||chr(769)||'ANCE DE'||chr(769)||'JA'||chr(768)||' CAFE'||chr(769)||' CRE'||chr(768)||'ME BRU'||chr(770)||'LE'||chr(769)||'E TRE'||chr(768)||'S PRE'||chr(768)||'S VOILA'||chr(768)||' E'||chr(769)||'LE'||chr(768)||'VE HO'||chr(770)||'TEL ' END)
        |  || md5(CAST(doc_id % (SELECT greatest(count(*) // 20, 1) FROM documents) AS VARCHAR)) || ' u' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |h AS (SELECT doc_id, list_distinct(list_transform(
        |  regexp_split_to_array(trim(lower(strip_accents(nfc_normalize(text)))), '\s+'),
        |  x -> CAST('0x' || substr(md5(x), 18, 15) AS BIGINT))) AS toks FROM synth),
        |s AS (SELECT doc_id, toks, CAST(length(toks) AS BIGINT) AS sz FROM h WHERE length(toks) > 0),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.sz AS sa, y.sz AS sb,
        |    CAST(length(list_intersect(x.toks, y.toks)) AS BIGINT) AS inter
        |  FROM s x JOIN s y ON x.doc_id < y.doc_id)
        |SELECT a, b, CAST(inter AS DOUBLE) / (sa + sb - inter) AS jac
        |FROM p WHERE inter * 5 >= 4 * (sa + sb - inter)
        |ORDER BY jac DESC, a ASC, b ASC LIMIT 20""".stripMargin)),

    // Fold-aware FIXED-K CHUNK dedup (r15, VERDICT r14 #1 — the last
    // raw-only rung): q52's delete-everywhere chunk machine with chunk
    // KEYS hashed over the per-token-folded stream (Dedup.cdcTokenKey;
    // fold preserves token arity, so the keyed k-slices align with the
    // original slices position for position) while clean_text keeps
    // each doc's own bytes. Groups of exactly THREE docs (doc_id div 3)
    // each carry ONE rendition — NFC / NFD combining marks / uppercase
    // NFD — of a group-parameterized 8-token passage at chunk 0, so the
    // folded chunk key appears in 3 distinct docs (hot, cut everywhere)
    // while every RAW rendition appears exactly once per group (kept) —
    // the fold is load-bearing in the OUTPUT, not just the key bytes;
    // did%7=3 rows are short clean controls. The oracle replays fold →
    // aligned k-slices → folded-key hotness → original-chunk rebuild.
    QueryDef("q197_folded_chunk_dedup",
      (s, d) => {
        val did = col("doc_id")
        val g = expr("CAST(doc_id div 3 AS STRING)")
        // explicit \u escapes (the q188 rule): NFC \u00e9 / NFD
        // e+U+0301 / uppercase NFD E+U+0301 — byte-different,
        // fold-identical
        def tok(i: Int): org.apache.spark.sql.Column =
          when(did % 3 === 0, concat(lit("caf\u00e9"), g, lit(s"x$i")))
            .when(did % 3 === 1, concat(lit("cafe\u0301"), g, lit(s"x$i")))
            .otherwise(concat(lit("CAFE\u0301"), g, lit(s"X$i")))
        val passage = concat_ws(" ", (0 until 8).map(tok): _*)
        val synth = Tables.documents(s, d).select(did,
          when(did % 7 === 3,
            concat(lit("clean only here now c"), did.cast("string")))
            .otherwise(concat(passage, lit(" u"), did.cast("string")))
            .as("text"))
        Dedup.chunkDedup(synth, "doc_id", "text", k = 8,
            keyForm = "folded")
          .where(col("doc_id") < 500)
          .orderBy(col("doc_id"))
      },
      Some("""WITH synth AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 3 THEN 'clean only here now c' || CAST(doc_id AS VARCHAR)
        |  ELSE array_to_string(list_transform(range(0, 8), i ->
        |    CASE WHEN doc_id % 3 = 0 THEN 'caf'||chr(233)||CAST(doc_id // 3 AS VARCHAR)||'x'||CAST(i AS VARCHAR)
        |         WHEN doc_id % 3 = 1 THEN 'cafe'||chr(769)||CAST(doc_id // 3 AS VARCHAR)||'x'||CAST(i AS VARCHAR)
        |         ELSE 'CAFE'||chr(769)||CAST(doc_id // 3 AS VARCHAR)||'X'||CAST(i AS VARCHAR) END), ' ')
        |    || ' u' || CAST(doc_id AS VARCHAR) END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM synth),
        |kt AS (SELECT doc_id, toks, list_transform(toks,
        |  x -> regexp_replace(lower(strip_accents(nfc_normalize(x))), '\s+', '', 'g')) AS ktoks FROM t),
        |c AS (SELECT doc_id,
        |  list_transform(range(0, greatest(CAST(ceil(length(toks)/8.0) AS BIGINT), 1)),
        |    i -> array_to_string(list_slice(toks, CAST(i*8+1 AS INT), CAST(i*8+8 AS INT)), ' ')) AS chunks,
        |  list_transform(range(0, greatest(CAST(ceil(length(ktoks)/8.0) AS BIGINT), 1)),
        |    i -> array_to_string(list_slice(ktoks, CAST(i*8+1 AS INT), CAST(i*8+8 AS INT)), ' ')) AS kchunks FROM kt),
        |e AS (SELECT doc_id, CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS pos,
        |  unnest(chunks) AS chunk, unnest(kchunks) AS kchunk FROM c),
        |h AS (SELECT doc_id, pos, chunk, CAST('0x'||substr(md5(kchunk),18,15) AS BIGINT) AS ch FROM e),
        |hot AS (SELECT ch FROM h GROUP BY ch HAVING count(DISTINCT doc_id) > 1),
        |kept AS (SELECT * FROM h WHERE ch NOT IN (SELECT ch FROM hot)),
        |agg AS (SELECT doc_id, count(*) AS n_kept, string_agg(chunk, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id)
        |SELECT c.doc_id, CAST(length(c.chunks) AS BIGINT) AS n_chunks,
        |  CAST(length(c.chunks) AS BIGINT) - coalesce(a.n_kept, 0) AS n_dropped,
        |  coalesce(a.clean_text, '') AS clean_text
        |FROM c LEFT JOIN agg a USING (doc_id)
        |WHERE c.doc_id < 500
        |ORDER BY doc_id""".stripMargin))
  )

  /** DuckDB twin of [[graft.functions.expressions.DecodeNumericEntities]]
    * over column `c` \u2014 the q182/q183 oracle's numeric-reference stage.
    * Single-pass semantics replayed exactly: one global regexp_replace
    * wraps every candidate body in chr(1) sentinels, str_split makes
    * bodies the even (1-based) list slots, and a list_transform lambda
    * decodes each body under the SAME bounded contract (decimal or
    * lowercase-x hex, target in {9,10,13} \u222a [32,255], else the original
    * text verbatim) \u2014 output is never re-scanned, so `&amp;#60;` style
    * double-escapes behave identically on both engines. Hex\u2192int is pure
    * strpos arithmetic on the \u2264 2 significant digits an in-range value
    * can have (DuckDB has no hex-parse for VARCHAR). Built by plain
    * string concat so the regex backslash survives every interpolation
    * context. A def \u2014 the init-order discipline of [[CdcPassage]].
    */
  private def duckDecodeNumEntities(c: String): String = {
    // value of a lowercase-x hex body x: strip the x, drop leading
    // zeros, left-pad back to 2 digits, then 16\u00b7hi + lo via strpos
    val pad = "substr(lpad(ltrim(lower(substr(x, 2)), '0'), 2, '0')"
    val hv = s"CAST((strpos('0123456789abcdef', $pad, 1, 1)) - 1) * 16 + " +
      s"(strpos('0123456789abcdef', $pad, 2, 1)) - 1) AS INT)"
    val passthrough = "'&#' || x || ';'"
    // [xX]? + the two LIKEs: both hex-marker cases decode (r13 \u2014 the
    // HTML spec's case-insensitive marker; `lower(substr(x, 2))` above
    // already case-folds the digits)
    // replace(c, chr(1), ''): both engines strip the sentinel before
    // scanning (r15) — the twin is total over arbitrary bytes
    "list_aggregate(list_transform(str_split(regexp_replace(" +
      s"replace($c, chr(1), '')" +
      ", '&#([xX]?[0-9a-fA-F]{1,6});', chr(1) || '" + "\\1" + "' || chr(1), 'g'), chr(1)), " +
      "(x, i) -> CASE WHEN i % 2 = 1 THEN x " +
      "WHEN regexp_matches(x, '^[0-9]{1,6}$') THEN " +
      "CASE WHEN CAST(x AS BIGINT) IN (9, 10, 13) OR CAST(x AS BIGINT) BETWEEN 32 AND 255 " +
      s"THEN chr(CAST(x AS INT)) ELSE $passthrough END " +
      "WHEN (x LIKE 'x%' OR x LIKE 'X%') AND length(ltrim(lower(substr(x, 2)), '0')) <= 2 THEN " +
      s"CASE WHEN $hv IN (9, 10, 13) OR $hv BETWEEN 32 AND 255 THEN chr($hv) " +
      s"ELSE $passthrough END " +
      s"ELSE $passthrough END), 'string_agg', '')"
  }

  /** DuckDB twin of the NAMED-entity pass \u2014 GENERATED from the same
    * table the JVM expression decodes with
    * ([[graft.functions.expressions.DecodeNamedEntitiesUtil.duckSql]]),
    * so the two engines cannot drift entity by entity.
    */
  private def duckDecodeNamedEntities(c: String): String =
    graft.functions.expressions.DecodeNamedEntitiesUtil.duckSql(c)

  /** The shared 30-token passage q174 plants at variable offsets \u2014 one
    * literal, interpolated into BOTH the Spark plan and the oracle SQL.
    * A `def` (not `val`): the `all` list interpolates it during object
    * init, and a later-declared val would still be null there.
    */
  private def CdcPassage: String =
    (0 until 30).map(i => s"cdc$i").mkString(" ")

  /** q178's NEW-half-only passage \u2014 duplicated across the arriving
    * batch but absent from the frozen reference index, so it must
    * SURVIVE the inline gate (the B-internal-dup contract). Same
    * def-not-val init-order discipline as [[CdcPassage]].
    */
  private def CdcNewPassage: String =
    (0 until 30).map(i => s"new$i").mkString(" ")

  /** q181's two planted cross-source passages \u2014 different lengths so
    * each source pair's containment denominators differ. Defs, not
    * vals: the init-order discipline.
    */
  private def ShareA: String = (0 until 12).map(i => s"sharea$i").mkString(" ")
  private def ShareB: String = (0 until 9).map(i => s"shareb$i").mkString(" ")

  /** q183's shared landing page \u2014 LONG (80 tokens) so it outranks real
    * documents in the per-domain length window and reaches the dedup
    * stage (a short shared page would be domain-capped first and the
    * exact_dup path would carry no mass). Def, not val: init order.
    */
  private def SharedPage: String =
    (0 until 80).map(i => s"landing$i").mkString(" ")

  /** Per-user event-value series as fixed-length vectors: first 8 values
    * in (ts, event_id, value) order \u2014 value as the final tie-break key so
    * the order is TOTAL on both engines even under (ts, event_id)
    * collisions \u2014 users with fewer than 8 events dropped (vector ops
    * need equal dims; DuckDB would NULL-pad a short zip while Spark's
    * distance returns null \u2014 a latent parity break). Kept in ONE place,
    * with [[duckSeries]] as its SQL twin, so q46 and its q47 scale path
    * can never drift apart.
    */
  private def seriesVectors(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("value")))).as("evs"))
      .where(size(col("evs")) >= 8)
      .select(col("user_id"),
        transform(slice(col("evs"), 1, 8), e => e.getField("value")).as("series"))

  /** SQL twin of [[seriesVectors]] \u2014 same order keys, same length guard. */
  private lazy val duckSeries =
    """SELECT user_id, list_slice(array_agg(value ORDER BY ts, event_id, value), 1, 8) AS series
      |  FROM events GROUP BY user_id HAVING COUNT(*) >= 8""".stripMargin

  /** Generate the `n`-stage unrolled BPE-training oracle: q88's
    * wrapped-symbol scheme (each symbol as chr(1)||sym||chr(2), so SQL
    * replace()'s left-to-right non-overlapping scan IS BPE's greedy
    * fusion, including a==b runs) emitted per merge round. Stage i:
    * p_i counts adjacent symbol pairs of state s_{i-1} weighted by word
    * frequency (same vocab cut, same minPairCount>=2 HAVING as
    * Bpe.train); m_i takes the (count desc, pair asc) argmax \u2014 the
    * trainer's exact tie-break; s_i applies the merge. An empty m_i
    * (no pair reaches 2) empties every later stage via the cross join,
    * mirroring the trainer's early stop. The final UNION ALL is the
    * rank-by-rank argmax trace \u2014 (rows, schema, hash) against the real
    * driver loop.
    */
  /** The shared training CTE chain of the unrolled BPE oracles: word
    * counts \u2192 wrapped-symbol vocab (s0) \u2192 pair-count argmax m_i per
    * round, with apply stages s_1..s_{n-1} BETWEEN rounds only (m_n
    * needs no apply after it, so s_n is never emitted \u2014 consumers that
    * need the merges applied to something build their own apply stages
    * over m1..mn, as [[bpeTokenizeOracle]]'s d-stages do).
    */
  private def bpeTrainStages(n: Int): String = {
    def pairStage(i: Int): String =
      s"""p$i AS (SELECT a, b, SUM(cnt) AS pc FROM (
         |    SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT)+1] AS b, cnt FROM (
         |      SELECT cnt, l, unnest(range(1, len(l))) AS i FROM (
         |        SELECT cnt, string_split(substr(s, 2, length(s)-2), chr(2)||chr(1)) AS l FROM s${i - 1})))
         |  GROUP BY a, b HAVING SUM(cnt) >= 2),
         |m$i AS (SELECT a, b FROM p$i ORDER BY pc DESC, a ASC, b ASC LIMIT 1)""".stripMargin
    def applyStage(i: Int): String =
      s"""s$i AS (SELECT cnt, replace(s, chr(1)||m$i.a||chr(2)||chr(1)||m$i.b||chr(2),
         |         chr(1)||m$i.a||m$i.b||chr(2)) AS s FROM s${i - 1}, m$i)""".stripMargin
    val stages = (1 to n).map { i =>
      if (i < n) pairStage(i) + ",\n" + applyStage(i) else pairStage(i)
    }.mkString(",\n")
    s"""toks AS (SELECT unnest($duckToks) AS word FROM documents),
       |wc AS (SELECT word, COUNT(*) AS cnt FROM toks WHERE word <> ''
       |       GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 65536),
       |s0 AS (SELECT cnt, array_to_string(list_transform(range(1, length(word)+1),
       |         i -> chr(1)||substr(word, CAST(i AS INT), 1)||chr(2)), '') AS s FROM wc),
       |$stages""".stripMargin
  }

  private def bpeUnrolledOracle(n: Int): String = {
    val trace = (1 to n).map { i =>
      val sep = if (i == 1) "" else "UNION ALL "
      s"${sep}SELECT ${i - 1} AS rk, a, b FROM m$i"
    }.mkString("\n  ")
    s"""WITH ${bpeTrainStages(n)}
       |SELECT rk, a, b FROM (
       |  $trace) ORDER BY rk""".stripMargin
  }

  /** Unrolled BPE APPLY oracle: learn the n merges (same training CTEs),
    * then wrap every DOCUMENT as word-boundary-separated symbols
    * (chr(3) between words \u2014 no merge crosses it) and replay each merge
    * as one left-to-right `replace` in rank order \u2014 byte-identical to
    * [[graft.operators.Bpe.tokenizeInPlan]]. Token count = number of
    * chr(1) symbol-open markers left standing.
    */
  private def bpeTokenizeOracle(n: Int): String =
    s"""WITH ${bpeApplyStages(n)}
       |SELECT doc_id, CAST(length(s) - length(replace(s, chr(1), '')) AS BIGINT)
       |  AS n_bpe_tokens FROM d$n ORDER BY doc_id""".stripMargin

  /** The shared train + wrap + replay CTE chain ending in `d\$n(doc_id, s)`
    * \u2014 factored so every BPE-apply-derived oracle (q132 per-doc counts,
    * q154 per-lang fertility) replays the identical byte-level pipeline.
    */
  private def bpeApplyStages(n: Int): String = {
    val docStages = (1 to n).map { i =>
      s"""d$i AS (SELECT doc_id, replace(s, chr(1)||m$i.a||chr(2)||chr(1)||m$i.b||chr(2),
         |         chr(1)||m$i.a||m$i.b||chr(2)) AS s FROM d${i - 1}, m$i)""".stripMargin
    }.mkString(",\n")
    s"""${bpeTrainStages(n)},
       |d0 AS (SELECT doc_id, array_to_string(list_transform($duckToks,
       |         w -> array_to_string(list_transform(range(1, length(w)+1),
       |           i -> chr(1)||substr(w, CAST(i AS INT), 1)||chr(2)), '')), chr(3)) AS s
       |       FROM documents),
       |$docStages""".stripMargin
  }

  /** Per-lang fertility oracle: the q132 apply chain aggregated by lang
    * with whitespace-token and char denominators; ratios as exact
    * floor-milli integers (`//`), never a float division.
    */
  private def fertilityOracle(n: Int): String =
    s"""WITH ${bpeApplyStages(n)},
       |tok AS (SELECT doc_id, CAST(length(s) - length(replace(s, chr(1), '')) AS BIGINT) AS n_bpe FROM d$n),
       |w AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS nc,
       |       CAST(length($duckToks) AS BIGINT) AS nw FROM documents)
       |SELECT w.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(w.nc) AS BIGINT) AS sum_chars,
       |  CAST(sum(w.nw) AS BIGINT) AS sum_ws_tokens,
       |  CAST(sum(t.n_bpe) AS BIGINT) AS sum_bpe_tokens,
       |  (CAST(sum(t.n_bpe) AS BIGINT) * 1000) // CAST(sum(w.nw) AS BIGINT) AS fertility_milli,
       |  (CAST(sum(w.nc) AS BIGINT) * 1000) // CAST(sum(t.n_bpe) AS BIGINT) AS chars_per_token_milli
       |FROM w JOIN tok t USING (doc_id)
       |GROUP BY w.lang ORDER BY w.lang""".stripMargin
}
