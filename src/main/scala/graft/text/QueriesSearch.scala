package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.text.TextOps._

/** Inverted-index lexical search over the `documents` corpus — the LEXICAL
  * counterpart of the engine's dense-retrieval family (brute cosine / LSH /
  * IVF over embeddings ≙ the reference's FaissRetriever.py:166-201; this is
  * the posting-list path a production corpus keeps NEXT to the vector
  * index). Three operators:
  *
  *   1. index build — token→(df, tf) posting statistics;
  *   2. conjunctive (AND) search — candidate intersection as a KEYED count,
  *      never a cross product;
  *   3. weighted ranked (OR) search — reciprocal-df term weighting with
  *      integer-exact arithmetic (ln-free: `floor(1e6·N / df)` — a raw
  *      transcendental double in hashed output was the q_bic_k lesson).
  *
  * Scale shape: postings are (token, doc) pairs — the classic inverted
  * index. The search-side filter `token IN (terms)` lands BEFORE the
  * keyed aggregation, so only the query terms' postings ever shuffle; at
  * 100 TB the index is materialized once, bucketed by token
  * ([[graft.operators.BucketStore]]), and every search is a bucket-pruned
  * scan + exchange-free keyed count. Document scoring joins the tiny
  * per-term df frame broadcast, and top-k is a global sort-LIMIT
  * (TakeOrderedAndProject — O(k) per partition, no partitionless window).
  */
object QueriesSearch {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** DuckDB posting-pairs CTE (tokenization identical to [[TextOps]]). */
  private val postingsCte: String =
    s"""WITH d AS (
       |  SELECT doc_id, ${DuckD.splitToks("text")} AS toks FROM documents
       |), p AS (
       |  SELECT doc_id, unnest(toks) AS token FROM d
       |)""".stripMargin

  /** Inverted-index build: per-token document frequency + total term
    * frequency. The index itself is the (token, doc_id, tf) relation; the
    * emitted frame is its per-token statistics row (what a query planner
    * reads to order terms rarest-first). One keyed shuffle on token. */
  private val qIndexPostings = Q(
    "q_index_postings",
    (s, dir) => docs(s, dir)
      .select(col("doc_id"),
        explode(expr(SparkD.splitToks("text"))).as("token"))
      .groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("tf_total")),
    Some(
      s"""$postingsCte
         |SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |  CAST(count(*) AS BIGINT) AS tf_total
         |FROM p GROUP BY token""".stripMargin))

  /** Conjunctive search terms: 'dup' is rare (the planted near-dup docs),
    * the others are common — the AND is decided by the rare term's posting
    * list, exactly the rarest-first intersection a lexical engine plans. */
  private val AndTerms = Seq("dup", "vector", "key")

  /** Conjunctive (AND-of-terms) search: distinct (doc, token) postings
    * filtered to the query terms (the filter sits on the scan side of the
    * shuffle — only query-term postings move), then a keyed count equal to
    * the term count = the doc contains ALL terms. Intersection as
    * aggregation: no pairwise joins, no cross product, one shuffle. */
  private val qTokenSearch = Q(
    "q_token_search",
    (s, dir) => {
      val matched = docs(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(expr(SparkD.splitToks("text")))).as("token"))
        .filter(col("token").isin(AndTerms: _*))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("hits"))
        .filter(col("hits") === AndTerms.size)
        .select(col("doc_id"))
      docs(s, dir)
        .select(col("doc_id"),
          size(expr(SparkD.splitToks("text"))).as("n_tokens"))
        .join(broadcast(matched), "doc_id")
    },
    Some {
      val preds = AndTerms.map(t => s"list_contains(toks, '$t')")
        .mkString(" AND ")
      s"""WITH d AS (
         |  SELECT doc_id, ${DuckD.splitToks("text")} AS toks FROM documents
         |)
         |SELECT doc_id, ${DuckD.size("toks")} AS n_tokens
         |FROM d WHERE $preds""".stripMargin
    })

  /** Ranked search terms: one rare + two common, so the reciprocal-df
    * weighting visibly reorders (a 'dup' hit outweighs ~15 common hits). */
  private val OrTerms = Seq("dup", "vector", "spark")
  private val TopK = 10

  /** Weighted ranked (OR-of-terms) search: per-(doc, term) tf from the
    * filtered postings, per-term weight `w = (1e6 · N) div df` (integer
    * reciprocal-df — idf's monotone, cross-engine-exact surrogate), score
    * = Σ tf·w, global top-k by (score desc, doc_id) — a sort-LIMIT, which
    * Spark plans as TakeOrderedAndProject (per-partition heap of k, no
    * global sort materialized). df and N are broadcast scalars. */
  private val qSearchRanked = Q(
    "q_search_ranked",
    (s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"),
          explode(expr(SparkD.splitToks("text"))).as("token"))
        .filter(col("token").isin(OrTerms: _*))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfPerTerm = tf.groupBy(col("token"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val nDocs = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      tf.join(broadcast(dfPerTerm), "token")
        .crossJoin(broadcast(nDocs))
        .withColumn("w", expr("(1000000 * n_docs) div df"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("w")).as("score_q"))
        .orderBy(col("score_q").desc, col("doc_id"))
        .limit(TopK)
    },
    Some {
      val in = OrTerms.map(t => s"'$t'").mkString(", ")
      s"""$postingsCte, tf AS (
         |  SELECT doc_id, token, count(*) AS tf
         |  FROM p WHERE token IN ($in) GROUP BY doc_id, token
         |), dfx AS (
         |  SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token
         |), n AS (
         |  SELECT count(*) AS n_docs FROM documents
         |)
         |SELECT doc_id,
         |  CAST(sum(tf * ((1000000 * n_docs) // df)) AS BIGINT) AS score_q
         |FROM tf JOIN dfx USING (token), n
         |GROUP BY doc_id
         |ORDER BY score_q DESC, doc_id
         |LIMIT $TopK""".stripMargin
    })

  /** Phrase to find adjacently — two common tokens, so the adjacency join
    * (not mere co-occurrence) decides the result. */
  private val Phrase = ("key", "agg")

  /** PHRASE search over POSITIONAL postings: the index keeps (token,
    * doc_id, pos) — the positional posting list every lexical engine
    * stores next to the df stats — and a phrase match is an equi-join of
    * the two terms' postings on (doc_id, pos) with the second term's
    * position shifted by one. Adjacency as a KEYED join: each term's
    * filter lands before its shuffle, candidates are the two posting
    * lists (not documents), and the join key (doc_id, pos) is unique per
    * side — linear, never a per-document scan. */
  private val qPhraseSearch = Q(
    "q_phrase_search",
    (s, dir) => {
      val pos = docs(s, dir)
        .select(col("doc_id"),
          posexplode(expr(SparkD.splitToks("text"))).as(Seq("pos", "token")))
      val first = pos.filter(col("token") === Phrase._1)
        .select(col("doc_id"), col("pos"))
      val second = pos.filter(col("token") === Phrase._2)
        .select(col("doc_id"), (col("pos") - 1).as("pos"))
      first.join(second, Seq("doc_id", "pos"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
    },
    Some(
      s"""WITH d AS (
         |  SELECT doc_id, ${DuckD.splitToks("text")} AS toks FROM documents
         |), p AS (
         |  SELECT doc_id, unnest(toks) AS token,
         |    generate_subscripts(toks, 1) AS pos
         |  FROM d
         |), t1 AS (
         |  SELECT doc_id, pos FROM p WHERE token = '${Phrase._1}'
         |), t2 AS (
         |  SELECT doc_id, pos - 1 AS pos FROM p WHERE token = '${Phrase._2}'
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM t1 JOIN t2 USING (doc_id, pos)
         |GROUP BY doc_id""".stripMargin))

  /** Phrase search over the BUCKETED positional-postings STORE: the same
    * adjacency join as [[qPhraseSearch]], but the (token, doc_id, pos)
    * relation is first persisted as a catalog table bucketed by `token`
    * ([[graft.operators.BucketStore]], the SCALE.md store layout for the
    * lexical index — VERDICT r4 task 9b). Each term's posting list then
    * comes from a BUCKET-PRUNED scan: `token = t` reads 1 of the 8 bucket
    * files (SelectedBucketsCount — SearchSpec pins the plan), which at
    * 100 TB is the difference between reading one term's shard and
    * re-scanning the whole positional index per query. The oracle is
    * identical to q_phrase_search's, so a hash match proves the
    * write → catalog → pruned-scan → join chain is lossless. */
  private val qPhraseBucketed = Q(
    "q_phrase_bucketed",
    (s, dir) => {
      import graft.operators.BucketStore
      val pos = docs(s, dir)
        .select(col("doc_id"),
          posexplode(expr(SparkD.splitToks("text"))).as(Seq("pos", "token")))
      BucketStore.write(pos, "graft_bkt_postings", nBuckets = 8,
        key = "token")
      val store = BucketStore.table(s, "graft_bkt_postings")
      val first = store.filter(col("token") === Phrase._1)
        .select(col("doc_id"), col("pos"))
      val second = store.filter(col("token") === Phrase._2)
        .select(col("doc_id"), (col("pos") - 1).as("pos"))
      first.join(second, Seq("doc_id", "pos"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
    },
    qPhraseSearch.oracle)

  /** BM25-class ranked search (round 5): the reciprocal-df weighting of
    * [[qSearchRanked]] extended with BM25's tf saturation + pivoted
    * document-length normalization (Robertson-Sparck Jones; k1 = 1.2,
    * b = 0.75) — long documents stop winning on raw tf. EVERY step is
    * integer arithmetic with explicit `div` (scaled by 1000/1e6), so
    * both engines floor at identical points and the hashed scores carry
    * no float op at all (the q_bic_k lesson applied up front; idf's ln
    * is replaced by the monotone reciprocal-df surrogate as in
    * q_search_ranked).
    *
    * Per (doc, term):  tf_part = (tf·2200·1000) div (tf·1000 + k1norm)
    * where norm1000 = 250 + (750000·dlen) div avgdl1000 and
    * k1norm = (1200·norm1000) div 1000; score = Σ w_t · tf_part with
    * w_t = (1e6·N) div df.
    *
    * Plan shape: query-term postings only ever shuffle (filter before
    * the keyed tf agg); per-term df and the 1-row corpus stats frame are
    * broadcast; doc length joins the small tf side broadcast; top-k is
    * sort-LIMIT (TakeOrderedAndProject). */
  private val qBm25 = Q(
    "q_bm25", {
      val in = OrTerms
      (s, dir) => {
        val d = docs(s, dir)
        val dlens = d.select(col("doc_id"),
          size(expr(SparkD.splitToks("text"))).cast("long").as("dlen"))
        val stats = dlens.agg(count(lit(1)).as("n_docs"),
          sum(col("dlen")).as("sum_dl"))
        val tf = d.select(col("doc_id"),
            explode(expr(SparkD.splitToks("text"))).as("token"))
          .filter(col("token").isin(in: _*))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val dfPerTerm = tf.groupBy(col("token"))
          .agg(countDistinct(col("doc_id")).as("df"))
        dlens.join(broadcast(tf.join(broadcast(dfPerTerm), "token")), "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("norm1000",
            expr("250 + (750000 * dlen) div ((1000 * sum_dl) div n_docs)"))
          .withColumn("tf_part",
            expr("(tf * 2200000) div (tf * 1000 + (1200 * norm1000) div 1000)"))
          .withColumn("w", expr("(1000000 * n_docs) div df"))
          .groupBy(col("doc_id"))
          .agg(max(col("dlen")).as("dlen"),
            sum(col("w") * col("tf_part")).as("score_q"))
          .orderBy(col("score_q").desc, col("doc_id"))
          .limit(TopK)
      }
    },
    Some(bm25Sql(s"LIMIT $TopK")))

  /** DuckDB replay of the full BM25 chain; `tail` appends ORDER-independent
    * clauses (the fusion oracle reuses the chain without the LIMIT). */
  private def bm25Sql(tail: String): String = {
    val in = OrTerms.map(t => s"'$t'").mkString(", ")
    s"""$postingsCte, dl AS (
       |  SELECT doc_id, CAST(${DuckD.size("toks")} AS BIGINT) AS dlen FROM d
       |), st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dlen) AS BIGINT) AS sum_dl FROM dl
       |), tf AS (
       |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
       |  FROM p WHERE token IN ($in) GROUP BY doc_id, token
       |), dfx AS (
       |  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM tf GROUP BY token
       |), sc AS (
       |  SELECT tf.doc_id, dl.dlen,
       |    ((1000000 * n_docs) // df) *
       |      ((tf * 2200000) // (tf * 1000 +
       |        (1200 * (250 + (750000 * dlen) //
       |          ((1000 * sum_dl) // n_docs))) // 1000)) AS s
       |  FROM tf JOIN dfx USING (token) JOIN dl ON tf.doc_id = dl.doc_id, st
       |)
       |SELECT doc_id, CAST(max(dlen) AS BIGINT) AS dlen,
       |  CAST(sum(s) AS BIGINT) AS score_q
       |FROM sc GROUP BY doc_id
       |ORDER BY score_q DESC, doc_id
       |$tail""".stripMargin
  }

  /** Reciprocal-rank fusion of two retrievers (round 5): the reference
    * compares retrievers side-by-side (test_k_mean_datasets.py:708-775
    * freetest multi-retriever sweep); production engines go one further
    * and FUSE rankings — RRF (Cormack et al.): rrf(d) = Σ_lists
    * 1/(60 + rank_d), integer-scaled as `1000000 div (60 + rank)`, a doc
    * absent from a list contributes 0. Lists fused here: the
    * reciprocal-df top-10 ([[qSearchRanked]]) and the BM25 top-10
    * ([[qBm25]]) for the same terms — the reorderings disagree exactly
    * where length normalization bites, so the fusion is non-trivial.
    *
    * Ranks are derived WITHOUT a partitionless window (a SignatureSpec
    * rule): each top-10 frame is bounded by k, so rank =
    * 1 + |better rows| via a broadcast k x k self-join — the bounded
    * theta join, same class as the existing tiny crossJoins. */
  private val qRankFusion = Q(
    "q_rank_fusion",
    (s, dir) => {
      def withRank(top: DataFrame): DataFrame = {
        val a = top.select(col("doc_id"), col("score_q"))
        val b = a.select(col("doc_id").as("b_id"), col("score_q").as("b_s"))
        a.join(broadcast(b),
            col("b_s") > col("score_q") ||
              (col("b_s") === col("score_q") && col("b_id") < col("doc_id")),
            "left")
          .groupBy(col("doc_id"))
          .agg((count(col("b_id")) + 1).as("rnk"))
      }
      val recip = qSearchRanked.fn(s, dir).select("doc_id", "score_q")
      val bm = qBm25.fn(s, dir).select("doc_id", "score_q")
      val ra = withRank(recip).withColumnRenamed("rnk", "rank_a")
      val rb = withRank(bm).withColumnRenamed("rnk", "rank_b")
      ra.join(rb, Seq("doc_id"), "full_outer")
        .withColumn("rrf_q",
          coalesce(expr("1000000 div (60 + rank_a)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + rank_b)"), lit(0L)))
        .select(col("doc_id"), coalesce(col("rank_a"), lit(0L)).as("rank_a"),
          coalesce(col("rank_b"), lit(0L)).as("rank_b"), col("rrf_q"))
    },
    Some {
      val in = OrTerms.map(t => s"'$t'").mkString(", ")
      s"""$postingsCte, dl AS (
         |  SELECT doc_id, CAST(${DuckD.size("toks")} AS BIGINT) AS dlen FROM d
         |), st AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dlen) AS BIGINT) AS sum_dl FROM dl
         |), tf AS (
         |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |  FROM p WHERE token IN ($in) GROUP BY doc_id, token
         |), dfx AS (
         |  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tf GROUP BY token
         |), rsc AS (
         |  SELECT doc_id,
         |    CAST(sum(tf * ((1000000 * n_docs) // df)) AS BIGINT) AS score_q
         |  FROM tf JOIN dfx USING (token), st
         |  GROUP BY doc_id
         |), ratop AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY score_q DESC, doc_id) AS rank_a
         |  FROM rsc ORDER BY score_q DESC, doc_id LIMIT $TopK
         |), bsc AS (
         |  SELECT tf.doc_id,
         |    CAST(sum(((1000000 * n_docs) // df) *
         |      ((tf * 2200000) // (tf * 1000 +
         |        (1200 * (250 + (750000 * dlen) //
         |          ((1000 * sum_dl) // n_docs))) // 1000))) AS BIGINT)
         |      AS score_q
         |  FROM tf JOIN dfx USING (token) JOIN dl ON tf.doc_id = dl.doc_id, st
         |  GROUP BY tf.doc_id
         |), rbtop AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY score_q DESC, doc_id) AS rank_b
         |  FROM bsc ORDER BY score_q DESC, doc_id LIMIT $TopK
         |)
         |SELECT doc_id,
         |  CAST(COALESCE(rank_a, 0) AS BIGINT) AS rank_a,
         |  CAST(COALESCE(rank_b, 0) AS BIGINT) AS rank_b,
         |  CAST(COALESCE(1000000 // (60 + rank_a), 0)
         |    + COALESCE(1000000 // (60 + rank_b), 0) AS BIGINT) AS rrf_q
         |FROM ratop FULL OUTER JOIN rbtop USING (doc_id)""".stripMargin
    })

  val all: Seq[Q] = Seq(qIndexPostings, qTokenSearch, qSearchRanked,
    qPhraseSearch, qPhraseBucketed, qBm25, qRankFusion)
}
