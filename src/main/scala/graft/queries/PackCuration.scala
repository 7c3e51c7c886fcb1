package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ext.{BoundedCache, Similarity, TextDedup}
import graft.functions.Exprs
import graft.io.Runs
import graft.schemas.Tables

/** Curation & evaluation operators — the round-9 continuation batch: the
  * statistical drift tests a production pipeline runs beside PSI/Welch
  * (two-sample KS, chi-squared independence), the two-stage retrieval
  * cascade and its ranking-quality eval (dense rerank, NDCG), contrastive
  * hard-negative mining, LSH-verified fuzzy dedup, and temperature-scaled
  * mixture weights (the mT5/multilingual sampling scheme).
  *
  * Exactness discipline follows NOTES: the KS statistic is computed in
  * PURE INTEGER arithmetic (scaled ECDF differences as BIGINT products,
  * one final double division), chi-squared / NDCG / mixture terms are
  * 1e9-to-1e12-quantized DECIMAL sums (order-free on any partitioning),
  * and the temperature exponent is alpha = 0.5 so the power is sqrt —
  * the one power IEEE 754 guarantees correctly rounded (pow(x, 0.3)
  * would be libm-dependent across engines). */
object PackCuration {

  /** DuckDB-side sequential-double dot/cos matching Similarity.dot
    * (same shape as PackExt's private helpers). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, length($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (acc,x) -> acc + x)"
  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** MinHash band CTE text shared with the dedup_minhash_* oracles
    * (16 md5-seeded hashes, 4 rows/band, 64-doc degenerate-bucket cap). */
  private def minhashBandsCte: String =
    """words AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS w FROM documents),
      |sigs AS (SELECT doc_id, """.stripMargin +
      (0 until 16).map(i => s"min(md5('$i|' || w)) AS s$i").mkString(", ") +
      """ FROM words GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(s0||s1||s2||s3) AS bkey FROM sigs
        |  UNION ALL SELECT doc_id, 1, md5(s4||s5||s6||s7) FROM sigs
        |  UNION ALL SELECT doc_id, 2, md5(s8||s9||s10||s11) FROM sigs
        |  UNION ALL SELECT doc_id, 3, md5(s12||s13||s14||s15) FROM sigs),
        |ok AS (SELECT band, bkey FROM bands GROUP BY band, bkey HAVING count(*) <= 64)""".stripMargin

  private val D12 = DecimalType(28, 12)
  /** 1eN-quantize a double expression then widen to order-free DECIMAL —
    * the NOTES rule-0 shape shared with the PSI/BM25 queries. */
  private def qdec(c: Column, scale: Double): Column =
    (floor(c * lit(scale) + lit(0.5)) / lit(scale)).cast(D12)

  val queries: Seq[QDef] = Seq(

    // Two-sample Kolmogorov–Smirnov drift test between the even/odd user
    // cohorts per event_type — the SHAPE-sensitive companion to
    // dq_drift_psi (PSI needs coarse bins; KS reads the whole ECDF).
    // Values are quantized to 100 unit-width bins (the production form:
    // an exact full-resolution ECDF would sort every value of an
    // event_type into one window partition — the single-partition-window
    // anti-pattern; binned KS aggregates FIRST, so the window input is
    // <= 100 rows per event_type regardless of data size). The statistic
    // itself is PURE INTEGER until the last step: D = max|cr*Nc - cu*Nr|
    // / (Nr*Nc) with BIGINT cumulative counts — no float discipline
    // needed at all. The drifted flag applies the classical alpha=0.05
    // threshold 1.358*sqrt((n1+n2)/(n1*n2)).
    QDef("stats_ks_test",
      """WITH b AS (SELECT event_type, user_id % 2 AS cohort,
        |             least(greatest(CAST(floor(value) AS BIGINT), 0), 99) AS bucket
        |           FROM events),
        |c AS (SELECT event_type, bucket,
        |        CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS rc,
        |        CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cc
        |      FROM b GROUP BY 1, 2),
        |cum AS (SELECT event_type,
        |          CAST(sum(rc) OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS cr,
        |          CAST(sum(cc) OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS cu
        |        FROM c),
        |tot AS (SELECT event_type, CAST(sum(rc) AS BIGINT) AS n_ref,
        |               CAST(sum(cc) AS BIGINT) AS n_cur
        |        FROM c GROUP BY 1),
        |d AS (SELECT cum.event_type, t.n_ref, t.n_cur,
        |        CAST(max(abs(cum.cr * t.n_cur - cum.cu * t.n_ref)) AS BIGINT) AS dmax
        |      FROM cum JOIN tot t USING (event_type)
        |      WHERE t.n_ref > 0 AND t.n_cur > 0 GROUP BY 1, 2, 3)
        |SELECT event_type, n_ref, n_cur,
        |  round(CAST(dmax AS DOUBLE) / (CAST(n_ref AS DOUBLE) * n_cur), 6) AS ks_stat,
        |  CAST(dmax AS DOUBLE) / (CAST(n_ref AS DOUBLE) * n_cur)
        |    > 1.358 * sqrt((n_ref + n_cur) / (CAST(n_ref AS DOUBLE) * n_cur)) AS drifted
        |FROM d ORDER BY event_type""".stripMargin) { (s, d) =>
      val b = Tables.events(s, d).select(col("event_type"),
        (col("user_id") % 2).as("cohort"),
        least(greatest(floor(col("value")).cast("long"), lit(0L)), lit(99L)).as("bucket"))
      val c = BoundedCache.persist("pack.ks.counts",
        b.groupBy(col("event_type"), col("bucket"))
          .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("rc"),
            sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("cc")))
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      val cum = c.select(col("event_type"),
        sum(col("rc")).over(w).as("cr"), sum(col("cc")).over(w).as("cu"))
      val tot = c.groupBy(col("event_type"))
        .agg(sum(col("rc")).as("n_ref"), sum(col("cc")).as("n_cur"))
      // One-sided cohorts (n_ref or n_cur = 0) are "not testable", not a
      // divide-by-zero: NULL-vs-inf divergence across engines otherwise.
      val dm = cum.join(broadcast(tot), Seq("event_type"))
        .filter(col("n_ref") > 0 && col("n_cur") > 0)
        .groupBy(col("event_type"), col("n_ref"), col("n_cur"))
        .agg(max(abs(col("cr") * col("n_cur") - col("cu") * col("n_ref"))).as("dmax"))
      val ks = col("dmax").cast("double") / (col("n_ref").cast("double") * col("n_cur"))
      dm.select(col("event_type"), col("n_ref"), col("n_cur"),
          round(ks, 6).as("ks_stat"),
          (ks > lit(1.358) * sqrt((col("n_ref") + col("n_cur"))
            / (col("n_ref").cast("double") * col("n_cur")))).as("drifted"))
        .orderBy(col("event_type"))
    },

    // Chi-squared test of independence between event_type and user
    // cohort (+ Cramér's V effect size) — the categorical drift check
    // beside the numeric KS/PSI/Welch family. The contingency table is
    // ONE partial+final count pass; expected cells come from broadcast
    // marginals over the full type × cohort scaffold (a sparse group-by
    // would silently drop zero-observation cells, which still carry
    // (0-E)^2/E mass — the PSI scaffold lesson). Per-cell terms are
    // 1e9-quantized DECIMAL sums, order-free on any partitioning.
    QDef("stats_chi2_independence",
      """WITH o AS (SELECT event_type, user_id % 2 AS cohort, CAST(count(*) AS BIGINT) AS o
        |           FROM events GROUP BY 1, 2),
        |scaffold AS (SELECT t.event_type, c.cohort
        |             FROM (SELECT DISTINCT event_type FROM events) t,
        |                  (SELECT unnest(range(2)) AS cohort) c),
        |cells AS (SELECT s.event_type, s.cohort, COALESCE(o.o, 0) AS o
        |          FROM scaffold s LEFT JOIN o
        |            ON o.event_type = s.event_type AND o.cohort = s.cohort),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT cohort, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |n AS (SELECT CAST(sum(o) AS BIGINT) AS n, CAST(count(DISTINCT event_type) AS BIGINT) AS nr
        |      FROM cells),
        |term AS (SELECT CAST(floor((cells.o - CAST(rt.r AS DOUBLE) * ct.c / n.n)
        |                           * (cells.o - CAST(rt.r AS DOUBLE) * ct.c / n.n)
        |                           / (CAST(rt.r AS DOUBLE) * ct.c / n.n) * 1e9 + 0.5) / 1e9
        |                AS DECIMAL(28,12)) AS t, n.n AS n, n.nr AS nr
        |         FROM cells JOIN rt USING (event_type) JOIN ct USING (cohort), n)
        |SELECT round(CAST(sum(t) AS DOUBLE), 6) AS chi2,
        |  CAST((nr - 1) * (2 - 1) AS BIGINT) AS df,
        |  round(sqrt(CAST(sum(t) AS DOUBLE) / (n * greatest(least(nr - 1, 1), 1))), 6) AS cramers_v,
        |  n
        |FROM term GROUP BY nr, n""".stripMargin) { (s, d) =>
      val o = BoundedCache.persist("pack.chi2.cells",
        Tables.events(s, d)
          .groupBy(col("event_type"), (col("user_id") % 2).as("cohort"))
          .agg(count(lit(1)).as("o")))
      val scaffold = o.select(col("event_type")).distinct()
        .crossJoin(s.range(0, 2).select(col("id").as("cohort")))
      val cells = scaffold.join(broadcast(o), Seq("event_type", "cohort"), "left")
        .select(col("event_type"), col("cohort"), coalesce(col("o"), lit(0L)).as("o"))
      val rt = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
      val ct = cells.groupBy(col("cohort")).agg(sum(col("o")).as("c"))
      val n = cells.agg(sum(col("o")).as("n"),
        countDistinct(col("event_type")).as("nr"))
      val e = col("r").cast("double") * col("c") / col("n")
      val term = cells.join(broadcast(rt), Seq("event_type"))
        .join(broadcast(ct), Seq("cohort"))
        .crossJoin(broadcast(n))
        .select(qdec((col("o") - e) * (col("o") - e) / e, 1e9).as("t"),
          col("n"), col("nr"))
      term.groupBy(col("nr"), col("n"))
        .agg(round(sum(col("t")).cast("double"), 6).as("chi2"),
          // greatest(…,1) guards the nr=1 degenerate table (V undefined,
          // but a 0 denominator would diverge NULL-vs-inf across engines)
          round(sqrt(sum(col("t")).cast("double") /
            (col("n") * greatest(least(col("nr") - 1, lit(1L)), lit(1L)))), 6).as("cramers_v"))
        .select(col("chi2"), ((col("nr") - 1) * lit(1L)).as("df"), col("cramers_v"), col("n"))
    },

    // Two-stage retrieval cascade — the production shape retrieval
    // stacks actually deploy (and the natural sibling of
    // retrieval_hybrid_rrf's FUSION): a cheap lexical candidate
    // generator keeps top-20 per query from the inverted-index join,
    // then ONLY those <=20 candidates are scored with the exact dense
    // cosine. The corpus-side embedding table is touched by a bounded
    // equi-join on the candidate ids — at 100 TB the dense stage cost
    // tracks queries × 20, never the corpus.
    QDef("retrieval_rerank_dense",
      s"""WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS w
         |              FROM documents WHERE doc_id < 500),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
         |inter AS (SELECT q.doc_id AS qid, c.doc_id AS nid, CAST(count(*) AS BIGINT) AS inter
         |          FROM toks q JOIN toks c ON q.w = c.w AND q.doc_id < 8 AND c.doc_id >= 8
         |          GROUP BY 1, 2),
         |lex AS (SELECT qid, nid, inter * 1.0 / (x.n + y.n - inter) AS jac
         |        FROM inter JOIN sz x ON qid = x.doc_id JOIN sz y ON nid = y.doc_id),
         |cand AS (SELECT qid, nid FROM (SELECT qid, nid,
         |           row_number() OVER (PARTITION BY qid ORDER BY jac DESC, nid) AS lr FROM lex)
         |         WHERE lr <= 20),
         |scored AS (SELECT cand.qid, cand.nid,
         |             round(${cosSql("q.embedding", "e.embedding")}, 6) AS cos
         |           FROM cand JOIN embeddings q ON q.vec_id = cand.qid
         |                     JOIN embeddings e ON e.vec_id = cand.nid)
         |SELECT qid, nid, cos,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
         |FROM scored QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      val toksP = BoundedCache.persist("pack.rerank.toks", toks)
      val sizes = toksP.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = toksP.filter(col("doc_id") < 8).select(col("doc_id").as("qid"), col("w"))
        .join(toksP.filter(col("doc_id") >= 8).select(col("doc_id").as("nid"), col("w")), Seq("w"))
        .groupBy(col("qid"), col("nid")).agg(count(lit(1)).as("inter"))
      val lex = inter
        .join(broadcast(sizes.select(col("doc_id").as("qid"), col("n").as("nq"))), Seq("qid"))
        .join(sizes.select(col("doc_id").as("nid"), col("n").as("nc")), Seq("nid"))
        .select(col("qid"), col("nid"),
          (col("inter") * lit(1.0) / (col("nq") + col("nc") - col("inter"))).as("jac"))
      val cand = lex.withColumn("lr", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("jac").desc, col("nid"))))
        .filter(col("lr") <= 20).select(col("qid"), col("nid"))
      val emb = Tables.embeddings(s, d)
      val nd = Similarity.nativeDot(_: Column, _: Column)
      val scored = cand
        .join(broadcast(emb.select(col("vec_id").as("qid"), col("embedding").as("qe"))), Seq("qid"))
        .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne")), Seq("nid"))
        .select(col("qid"), col("nid"),
          round(nd(col("qe"), col("ne"))
            / (sqrt(nd(col("qe"), col("qe"))) * sqrt(nd(col("ne"), col("ne")))), 6).as("cos"))
      scored.withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))).cast("int"))
        .filter(col("rank") <= 5)
        .orderBy(col("qid"), col("rank"))
    },

    // Contrastive hard-negative mining: for each anchor (vec_id < 10)
    // the top-5 most-similar vectors with a DIFFERENT label — the
    // near-miss negatives an embedding trainer pairs with each anchor.
    // Same broadcast-query / corpus-never-shuffles plan as
    // ann_cosine_topk with the label-mismatch predicate riding the
    // broadcast join (Similarity.hardNegativeTopK).
    QDef("mine_hard_negatives",
      s"""WITH q AS (SELECT vec_id AS qid, label AS ql, embedding AS qe
         |           FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT q.qid, e.vec_id AS nid, e.label AS neg_label,
         |        round(${cosSql("q.qe", "e.embedding")}, 6) AS cos
         |      FROM q, embeddings e WHERE e.label <> q.ql),
         |r AS (SELECT qid, nid, neg_label, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
         |      FROM c)
         |SELECT qid, nid, neg_label, cos, rank FROM r WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.hardNegativeTopK(e, e.filter(col("vec_id") < 10), 5)
        .orderBy(col("qid"), col("rank"))
    },

    // Fuzzy dedup, production-shaped: MinHash-LSH candidate generation
    // (the banded index that never goes all-pairs — shared machinery and
    // oracle CTE with dedup_minhash_lsh) VERIFIED by exact edit
    // distance. The verifier runs only on candidate pairs, whose count
    // tracks the true near-dup density, not n²; texts are fetched for
    // candidates only via two id equi-joins, so the corpus text column
    // is never crossed. The distance is the bit-parallel
    // graft.plans.EditDistance kernel (Myers/Hyyrö, O(⌈m/64⌉·n) word
    // ops per pair after stripping the common prefix and suffix, against
    // the O(m·n) byte-walking DP of Spark's levenshtein, whose values it
    // returns). is_dup flags pairs within 10% edits of the longer text —
    // integer arithmetic end to end.
    QDef("dedup_fuzzy_levenshtein",
      s"""WITH $minhashBandsCte,
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |         FROM bands a JOIN ok USING (band, bkey)
         |         JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |v AS (SELECT c.d1, c.d2,
         |        CAST(levenshtein(x.text, y.text) AS INTEGER) AS dist,
         |        CAST(greatest(length(x.text), length(y.text)) AS INTEGER) AS len_max
         |      FROM cand c JOIN documents x ON x.doc_id = c.d1
         |                  JOIN documents y ON y.doc_id = c.d2)
         |SELECT d1, d2, dist, len_max, dist * 10 <= len_max AS is_dup
         |FROM v ORDER BY d1, d2""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val cand = TextDedup.lshCandidatePairs(docs, "doc_id", "text",
        numHashes = 16, rowsPerBand = 4, maxBucketSize = 64)
      val t1 = docs.select(col("doc_id").as("d1"), col("text").as("t1"))
      val t2 = docs.select(col("doc_id").as("d2"), col("text").as("t2"))
      cand.join(t1, Seq("d1")).join(t2, Seq("d2"))
        .select(col("d1"), col("d2"),
          Exprs.editDistance(col("t1"), col("t2")).as("dist"),
          greatest(length(col("t1")), length(col("t2"))).cast("int").as("len_max"))
        .withColumn("is_dup", col("dist") * 10 <= col("len_max"))
        .orderBy(col("d1"), col("d2"))
    },

    // Temperature-scaled mixture weights (alpha = 0.5): w_i ∝ p_i^alpha
    // — the standard upsampling scheme for low-resource sources/langs
    // (mT5/XLM-R style) beside the plain proportional
    // mixture_domain_weights. alpha is fixed at 0.5 deliberately:
    // p^0.5 = sqrt(p) is the one power IEEE guarantees correctly
    // rounded, so the statistic is engine-exact with no libm dependence
    // (pow(p, 0.3) is not). The normalizer is a 1e12-quantized DECIMAL
    // sum over sources; token counts are one map-side-combined pass.
    QDef("mixture_temperature_weights",
      """WITH tok AS (SELECT source, CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
        |             FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM tok),
        |p AS (SELECT source, n_tokens, CAST(n_tokens AS DOUBLE) / tot.tot AS p FROM tok, tot),
        |z AS (SELECT CAST(sum(CAST(floor(sqrt(p) * 1e12 + 0.5) / 1e12 AS DECIMAL(28,12))) AS DOUBLE) AS z
        |      FROM p)
        |SELECT source, n_tokens, round(p, 6) AS p_raw,
        |  round(sqrt(p) / z.z, 6) AS p_temp,
        |  round(sqrt(p) / z.z / p, 6) AS up_factor
        |FROM p, z ORDER BY source""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      val tokP = BoundedCache.persist("pack.mixtemp.tok", tok)
      val tot = tokP.agg(sum(col("n_tokens")).as("tot"))
      val p = tokP.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          (col("n_tokens").cast("double") / col("tot")).as("p"))
      val pP = BoundedCache.persist("pack.mixtemp.p", p)
      val z = pP.agg(sum(qdec(sqrt(col("p")), 1e12)).cast("double").as("z"))
      pP.crossJoin(broadcast(z))
        .select(col("source"), col("n_tokens"), round(col("p"), 6).as("p_raw"),
          round(sqrt(col("p")) / col("z"), 6).as("p_temp"),
          round(sqrt(col("p")) / col("z") / col("p"), 6).as("up_factor"))
        .orderBy(col("source"))
    },

    // NDCG@10 of the lexical ranking with source-match relevance — the
    // ranking-quality eval beside ann_recall_eval (which grades the ANN
    // approximation; this grades the RANKER). DCG terms rel/log2(rank+1)
    // and the ideal-DCG prefix are 1e12-quantized DECIMAL sums; the
    // ideal list length is min(10, corpus relevant count) computed
    // relationally (no driver-side math).
    QDef("retrieval_ndcg_eval",
      """WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS w
        |              FROM documents WHERE doc_id < 500),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
        |inter AS (SELECT q.doc_id AS qid, c.doc_id AS nid, CAST(count(*) AS BIGINT) AS inter
        |          FROM toks q JOIN toks c ON q.w = c.w AND q.doc_id < 8 AND c.doc_id >= 8
        |          GROUP BY 1, 2),
        |lex AS (SELECT qid, nid, inter * 1.0 / (x.n + y.n - inter) AS jac
        |        FROM inter JOIN sz x ON qid = x.doc_id JOIN sz y ON nid = y.doc_id),
        |top AS (SELECT qid, nid, rank FROM (SELECT qid, nid,
        |          row_number() OVER (PARTITION BY qid ORDER BY jac DESC, nid) AS rank FROM lex)
        |        WHERE rank <= 10),
        |qsrc AS (SELECT doc_id AS qid, source AS qsource FROM documents WHERE doc_id < 8),
        |rel AS (SELECT t.qid, t.rank, CASE WHEN d.source = q.qsource THEN 1 ELSE 0 END AS rel
        |        FROM top t JOIN documents d ON d.doc_id = t.nid JOIN qsrc q USING (qid)),
        |dcg AS (SELECT qid, CAST(sum(CAST(floor(rel / (ln(rank + 1) / ln(2)) * 1e12 + 0.5) / 1e12
        |                                  AS DECIMAL(28,12))) AS DOUBLE) AS dcg
        |        FROM rel GROUP BY qid),
        |nrel AS (SELECT q.qid, CAST(count(*) AS BIGINT) AS n_rel
        |         FROM qsrc q JOIN documents d
        |           ON d.source = q.qsource AND d.doc_id >= 8 AND d.doc_id < 500
        |         GROUP BY q.qid),
        |ideal AS (SELECT n.qid,
        |            CAST(sum(CAST(floor(1 / (ln(i + 1) / ln(2)) * 1e12 + 0.5) / 1e12
        |                          AS DECIMAL(28,12))) AS DOUBLE) AS idcg
        |          FROM nrel n, range(1, 11) t(i) WHERE i <= n.n_rel GROUP BY n.qid)
        |SELECT d.qid, n.n_rel, round(d.dcg / i.idcg, 6) AS ndcg
        |FROM dcg d JOIN nrel n USING (qid) JOIN ideal i USING (qid)
        |ORDER BY qid""".stripMargin) { (s, d) =>
      val docsAll = Tables.documents(s, d)
      val toks = docsAll.filter(col("doc_id") < 500)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      val toksP = BoundedCache.persist("pack.ndcg.toks", toks)
      val sizes = toksP.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = toksP.filter(col("doc_id") < 8).select(col("doc_id").as("qid"), col("w"))
        .join(toksP.filter(col("doc_id") >= 8).select(col("doc_id").as("nid"), col("w")), Seq("w"))
        .groupBy(col("qid"), col("nid")).agg(count(lit(1)).as("inter"))
      val lex = inter
        .join(broadcast(sizes.select(col("doc_id").as("qid"), col("n").as("nq"))), Seq("qid"))
        .join(sizes.select(col("doc_id").as("nid"), col("n").as("nc")), Seq("nid"))
        .select(col("qid"), col("nid"),
          (col("inter") * lit(1.0) / (col("nq") + col("nc") - col("inter"))).as("jac"))
      val top = lex.withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("jac").desc, col("nid"))))
        .filter(col("rank") <= 10).select(col("qid"), col("nid"), col("rank"))
      val qsrc = broadcast(docsAll.filter(col("doc_id") < 8)
        .select(col("doc_id").as("qid"), col("source").as("qsource")))
      val rel = top
        .join(docsAll.select(col("doc_id").as("nid"), col("source")), Seq("nid"))
        .join(qsrc, Seq("qid"))
        .select(col("qid"), col("rank"),
          when(col("source") === col("qsource"), 1).otherwise(0).as("rel"))
      val dcg = rel.groupBy(col("qid"))
        .agg(sum(qdec(col("rel") / (log(col("rank") + 1) / log(lit(2.0))), 1e12))
          .cast("double").as("dcg"))
      val nrel = qsrc
        .join(docsAll.filter(col("doc_id") >= 8 && col("doc_id") < 500)
          .select(col("source").as("qsource")), Seq("qsource"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
      val ideal = nrel.crossJoin(s.range(1, 11).select(col("id").as("i")))
        .filter(col("i") <= col("n_rel"))
        .groupBy(col("qid"))
        .agg(sum(qdec(lit(1) / (log(col("i") + 1) / log(lit(2.0))), 1e12))
          .cast("double").as("idcg"))
      dcg.join(broadcast(nrel), Seq("qid")).join(broadcast(ideal), Seq("qid"))
        .select(col("qid"), col("n_rel"), round(col("dcg") / col("idcg"), 6).as("ndcg"))
        .orderBy(col("qid"))
    },

    // Rule-based data-quality expectations (the Great-Expectations-style
    // contract check a warehouse load runs before publish): per rule,
    // checked/failed counts and the pass rate. The four column rules
    // share ONE lineitem scan (conditional partial+final sums, then an
    // explode into rule rows — never four scans); referential integrity
    // is a left join with a null-probe count; key uniqueness aggregates
    // per-key counts. Everything is integer until the final pass-rate
    // division.
    QDef("dq_expectations",
      """WITH li AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        |    CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
        |    CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS f4
        |  FROM lineitem),
        |fk AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f
        |       FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |uq AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(COALESCE(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0) AS BIGINT) AS f
        |       FROM (SELECT o_orderkey, count(*) AS c FROM orders GROUP BY 1)),
        |r AS (
        |  SELECT 'shipdate_not_null' AS rule, n, f1 AS n_failed FROM li
        |  UNION ALL SELECT 'discount_in_range', n, f2 FROM li
        |  UNION ALL SELECT 'quantity_positive', n, f3 FROM li
        |  UNION ALL SELECT 'price_positive', n, f4 FROM li
        |  UNION ALL SELECT 'orderkey_fk_orders', n, f FROM fk
        |  UNION ALL SELECT 'orderkey_unique', n, f FROM uq)
        |SELECT rule, n AS n_checked, n_failed,
        |  round(CAST(n - n_failed AS DOUBLE) / n, 6) AS pass_rate
        |FROM r ORDER BY rule""".stripMargin) { (s, d) =>
      def fail(c: Column) = sum(when(c, 1L).otherwise(0L))
      val li = Tables.lineitem(s, d)
      val liAgg = li.agg(count(lit(1)).as("n"),
        fail(col("l_shipdate").isNull).as("f1"),
        fail(col("l_discount") < 0 || col("l_discount") > 0.1).as("f2"),
        fail(col("l_quantity") <= 0).as("f3"),
        fail(col("l_extendedprice") <= 0).as("f4"))
      val liRules = liAgg.select(explode(array(
          struct(lit("shipdate_not_null").as("rule"), col("n"), col("f1").as("n_failed")),
          struct(lit("discount_in_range").as("rule"), col("n"), col("f2").as("n_failed")),
          struct(lit("quantity_positive").as("rule"), col("n"), col("f3").as("n_failed")),
          struct(lit("price_positive").as("rule"), col("n"), col("f4").as("n_failed"))))
          .as("r"))
        .select(col("r.rule").as("rule"), col("r.n").as("n"), col("r.n_failed").as("n_failed"))
      val fk = li.select(col("l_orderkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left")
        .agg(count(lit(1)).as("n"), fail(col("o_orderkey").isNull).as("n_failed"))
        .select(lit("orderkey_fk_orders").as("rule"), col("n"), col("n_failed"))
      val uq = Tables.orders(s, d).groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("c") > 1, col("c")).otherwise(0L)), lit(0L)).as("n_failed"))
        .select(lit("orderkey_unique").as("rule"), col("n"), col("n_failed"))
      liRules.unionByName(fk).unionByName(uq)
        .select(col("rule"), col("n").as("n_checked"), col("n_failed"),
          round((col("n") - col("n_failed")).cast("double") / col("n"), 6).as("pass_rate"))
        .orderBy(col("rule"))
    },

    // Rolling z-score anomaly detection per user — the self-calibrating
    // outlier monitor (each point scored against ITS OWN trailing 20
    // events, so regime changes don't poison a global threshold; the
    // global form is stats_zscore_outliers). Trailing mean/variance come
    // from exact DECIMAL window sums over the (user, event order) frame
    // — the Welch recipe applied to a moving window; only frames with
    // >= 10 points score. Partitioned by user: each history sorts
    // within its own task, no global window.
    QDef("ts_anomaly_rolling",
      """WITH w AS (SELECT event_id, user_id, value,
        |    CAST(count(value) OVER fr AS BIGINT) AS n_frame,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) OVER fr AS DOUBLE) AS sv,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) OVER fr AS DOUBLE) AS svv
        |  FROM events
        |  WINDOW fr AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |z AS (SELECT event_id, user_id, value, n_frame,
        |        (value - sv / n_frame) / sqrt((svv - sv / n_frame * sv) / (n_frame - 1)) AS z
        |      FROM w WHERE n_frame >= 10 AND svv * n_frame > sv * sv)
        |SELECT event_id, user_id, value, n_frame, round(z, 6) AS z_score
        |FROM z WHERE abs(z) > 3 ORDER BY event_id""".stripMargin) { (s, d) =>
      val D = DecimalType(18, 2)
      def dec(c: Column) = c.cast(D)
      val fr = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(-20, -1)
      val w = Tables.events(s, d).select(col("event_id"), col("user_id"), col("value"),
        count(col("value")).over(fr).as("n_frame"),
        sum(dec(col("value"))).over(fr).cast("double").as("sv"),
        sum(dec(col("value")) * dec(col("value"))).over(fr).cast("double").as("svv"))
      val z = (col("value") - col("sv") / col("n_frame")) /
        sqrt((col("svv") - col("sv") / col("n_frame") * col("sv")) / (col("n_frame") - lit(1)))
      // Zero-variance frames (all trailing values identical) make the z
      // denominator sqrt(0): Spark Divide yields NULL (row silently
      // dropped) while IEEE division yields inf/NaN — guard to positive
      // variance so both engines agree the frame is unscorable.
      w.filter(col("n_frame") >= 10 &&
          col("svv") * col("n_frame") > col("sv") * col("sv"))
        .select(col("event_id"), col("user_id"), col("value"), col("n_frame"),
          z.as("z"))
        .filter(abs(col("z")) > 3)
        .select(col("event_id"), col("user_id"), col("value"), col("n_frame"),
          round(col("z"), 6).as("z_score"))
        .orderBy(col("event_id"))
    },

    // Cluster-then-select — the curation ACTION on top of the near-dup
    // clustering family (dedup_cluster_cc labels, dedup_cluster_summary
    // reports; this picks the survivor): within each SimHash-pair
    // connected component, keep the longest document (tie: smallest id).
    // Selection is a per-cluster bounded argmax over the labeled frame —
    // clusters are near-dup sets, small by construction.
    QDef("dedup_cluster_keep_best",
      s"""WITH RECURSIVE ${PackExt.simhashCte("doc_id < 128")},
         |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2
         |          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 12),
         |sym AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
         |reach(a, b) AS (SELECT doc_id, doc_id FROM sh
         |                UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         |lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |j AS (SELECT l.cluster_id, l.doc_id, d.n_chars
         |      FROM lab l JOIN documents d USING (doc_id)),
         |best AS (SELECT cluster_id, doc_id AS keep_id, n_chars AS keep_chars,
         |           row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
         |         FROM j),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs FROM j GROUP BY 1)
         |SELECT b.cluster_id, b.keep_id, b.keep_chars, sz.n_docs
         |FROM best b JOIN sz USING (cluster_id) WHERE b.rn = 1
         |ORDER BY cluster_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 128)
      val pairs = TextDedup.simhashPairs(
        TextDedup.simhash(docs, "doc_id", "text"), 12).select(col("d1"), col("d2"))
      val lab = TextDedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      val j = BoundedCache.persist("pack.keepbest.j",
        lab.join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id")))
      val best = j.withColumn("rn", row_number().over(
          Window.partitionBy(col("cluster_id")).orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("keep_id"), col("n_chars").as("keep_chars"))
      val sz = j.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_docs"))
      best.join(sz, Seq("cluster_id"))
        .select(col("cluster_id"), col("keep_id"), col("keep_chars"), col("n_docs"))
        .orderBy(col("cluster_id"))
    },

    // Nearest-centroid classification eval: assign every vector to the
    // argmax-dot stored centroid and grade against its label — the
    // quantizer-quality eval beside ann_recall_eval (recall grades the
    // SEARCH; this grades the coarse PARTITIONER the IVF family serves
    // from). All k centroid vectors ride in ONE broadcast row-set and
    // the argmax runs through the bounded-heap top-1 per vector; the
    // corpus is touched once, map-side.
    QDef("emb_centroid_assign_eval",
      s"""WITH cents AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |               FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cvec AS (SELECT label AS pb, list(mean ORDER BY i) AS cv FROM cents GROUP BY label),
         |asg AS (SELECT e.vec_id, e.label AS true_label, c.pb,
         |          row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |            round(${dotSql("e.embedding", "c.cv")}, 6) DESC, c.pb) AS rn
         |        FROM embeddings e, cvec c)
         |SELECT true_label AS label, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN pb = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  round(CAST(sum(CASE WHEN pb = true_label THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy
         |FROM asg WHERE rn = 1 GROUP BY true_label ORDER BY label""".stripMargin) { (s, d) =>
      val nd = Similarity.nativeDot(_: Column, _: Column)
      val cents = PackExt.persistedCentroids(s, d)
      val byBucket = cents.groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("i"), col("mean")))).as("c"))
        .select(col("label").as("pb"), transform(col("c"), x => x.getField("mean")).as("cvec"))
      val scored = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").as("true_label"), col("embedding"))
        .crossJoin(broadcast(byBucket))
        .select(col("vec_id"), col("true_label"), col("pb"),
          round(nd(col("embedding"), col("cvec")), 6).as("score"))
      val top1 = graft.ops.Ops.topKPerKey(
          scored, Seq("vec_id"), Seq(("score", true), ("pb", false)), 1)
      top1.groupBy(col("true_label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pb") === col("true_label"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("true_label").as("label"), col("n"), col("n_correct"),
          round(col("n_correct").cast("double") / col("n"), 6).as("accuracy"))
        .orderBy(col("label"))
    },

    // Rolling DISCRETE median per user — the robust companion of
    // ts_anomaly_rolling's mean/std (one wild spike shifts a trailing
    // mean for 20 rows; the median shrugs it off). Discrete (lower
    // middle, matching DuckDB quantile_disc ties) deliberately: the
    // answer is always an ACTUAL data value, so no interpolation
    // arithmetic exists to diverge between engines — the statistic is
    // selection, not float math. The 11-row frame materializes as a
    // bounded sorted array per row; the window partitions per user.
    QDef("ts_rolling_median",
      """SELECT event_id, user_id, value,
        |  quantile_disc(value, 0.5) OVER
        |    (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 10 PRECEDING AND CURRENT ROW) AS roll_med
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val fr = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(-10, 0)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          sort_array(collect_list(col("value")).over(fr)).as("a"))
        .select(col("event_id"), col("user_id"), col("value"),
          element_at(col("a"), ((size(col("a")) + 1) / 2).cast("int")).as("roll_med"))
        .orderBy(col("event_id"))
    },

    // Common-neighbor link prediction over the co-purchase graph (the
    // graph_triangle_count edge set): for non-adjacent supplier pairs,
    // the number of shared neighbors and the neighborhood Jaccard —
    // the classic "you may also know" scorer. Wedges enumerate through
    // CENTERS of degree <= 512 (mirrored in the oracle): a hub center of
    // degree d sources d² wedges, so the cap bounds the wedge join at
    // 512·m under ANY skew — the documented recall tradeoff every
    // production similarity miner makes (high-degree centers carry the
    // least signal per Adamic-Adar anyway). Candidates must be
    // non-edges: a broadcast anti-join against the edge set. Jaccard is
    // an integer ratio (exact double); top-20 by (cn, jaccard) with id
    // tiebreaks through the bounded-heap operator.
    QDef("graph_common_neighbors",
      """WITH e0 AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |            FROM lineitem a JOIN lineitem b
        |              ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |            WHERE a.l_orderkey % 20 = 0),
        |adj AS (SELECT u AS x, v AS y FROM e0 UNION ALL SELECT v, u FROM e0),
        |deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY x),
        |ctr AS (SELECT adj.x, adj.y FROM adj JOIN deg ON deg.x = adj.x WHERE deg.d <= 512),
        |w AS (SELECT a.y AS u, b.y AS v, CAST(count(*) AS BIGINT) AS cn
        |      FROM ctr a JOIN ctr b ON a.x = b.x AND a.y < b.y
        |      GROUP BY 1, 2),
        |nonedge AS (SELECT w.u, w.v, w.cn FROM w
        |            LEFT JOIN e0 ON e0.u = w.u AND e0.v = w.v WHERE e0.u IS NULL),
        |scored AS (SELECT n.u, n.v, n.cn,
        |             round(CAST(n.cn AS DOUBLE) / (du.d + dv.d - n.cn), 6) AS jaccard
        |           FROM nonedge n JOIN deg du ON du.x = n.u JOIN deg dv ON dv.x = n.v)
        |SELECT u, v, cn, jaccard,
        |  CAST(row_number() OVER (ORDER BY cn DESC, jaccard DESC, u, v) AS INTEGER) AS rank
        |FROM scored QUALIFY rank <= 20 ORDER BY rank""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e0 = BoundedCache.persist("pack.cn.edges",
        li.alias("a").join(li.alias("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_suppkey") < col("b.l_suppkey"))
          .select(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v")).distinct())
      val adj = e0.select(col("u").as("x"), col("v").as("y"))
        .unionAll(e0.select(col("v").as("x"), col("u").as("y")))
      val adjP = BoundedCache.persist("pack.cn.adj", adj)
      val deg = BoundedCache.persist("pack.cn.deg",
        adjP.groupBy(col("x")).agg(count(lit(1)).as("d")))
      val ctr = adjP.join(broadcast(deg.filter(col("d") <= 512)), Seq("x"))
        .select(col("x"), col("y"))
      // Wedge enumeration: broadcast the probe side when the capped
      // adjacency is bounded (degree cap 512 ⇒ ctr rows = Σ min(d, 512),
      // known from the cached deg frame) — a BHJ keeps the 6.7M-row pair
      // stream inside one codegen stage (measured 2.7 s → 0.8 s at
      // sf0.1); past the gate the shuffled x-join takes over (the same
      // size-gated flip Graph.pageRank uses for its rank side).
      val ctrRows = deg.filter(col("d") <= 512)
        .agg(coalesce(sum(col("d")), lit(0L))).head().getLong(0)
      val ctrB = if (ctrRows <= graft.ext.Graph.broadcastGate(s)) broadcast(ctr.alias("b")) else ctr.alias("b")
      val w = ctr.alias("a").join(ctrB,
          col("a.x") === col("b.x") && col("a.y") < col("b.y"))
        .groupBy(col("a.y").as("u"), col("b.y").as("v"))
        .agg(count(lit(1)).as("cn"))
      val nonedge = w.join(e0, Seq("u", "v"), "left_anti")
      val scored = nonedge
        .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
        .select(col("u"), col("v"), col("cn"),
          round(col("cn").cast("double") / (col("du") + col("dv") - col("cn")), 6).as("jaccard"))
      val top = graft.ops.Ops.topKPerKey(
        scored.withColumn("_g", lit(1)), Seq("_g"),
        Seq(("cn", true), ("jaccard", true), ("u", false), ("v", false)), 20)
      top.withColumn("rank", row_number().over(
          Window.partitionBy(col("_g"))
            .orderBy(col("cn").desc, col("jaccard").desc, col("u"), col("v"))).cast("int"))
        .select(col("u"), col("v"), col("cn"), col("jaccard"), col("rank"))
        .orderBy(col("rank"))
    },

    // Maximal-Marginal-Relevance diversified reranking (Carbonell &
    // Goldstein), lambda = 0.7, k = 3, unrolled: each pick maximizes
    // 0.7·relevance − 0.3·(max similarity to already-picked). The
    // candidate pool is the dense top-10 per query, so every MMR step
    // is a bounded argmax over <= 10 rows and the pairwise
    // candidate-candidate similarity matrix is <= 90 rows per query —
    // the cascade shape again: corpus work is the candidate gen, the
    // diversification never touches the corpus. All scores are
    // 6dp-rounded cosines combined with one double expression per step,
    // identical in the oracle.
    QDef("retrieval_mmr_diversify",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
         |base AS (SELECT q.qid, e.vec_id AS nid, e.embedding AS ne,
         |           round(${cosSql("q.qe", "e.embedding")}, 6) AS rel
         |         FROM q, embeddings e WHERE e.vec_id >= 8 AND e.vec_id < 500),
         |cand AS (SELECT qid, nid, ne, rel FROM (SELECT qid, nid, ne, rel,
         |           row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rn FROM base)
         |         WHERE rn <= 10),
         |sims AS (SELECT x.qid, x.nid AS a, y.nid AS b, round(${cosSql("x.ne", "y.ne")}, 6) AS sim
         |         FROM cand x JOIN cand y ON x.qid = y.qid AND x.nid <> y.nid),
         |s1 AS (SELECT qid, nid, rel FROM (SELECT qid, nid, rel,
         |         row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rn FROM cand)
         |       WHERE rn = 1),
         |m2 AS (SELECT c.qid, c.nid, 0.7 * c.rel - 0.3 * s.sim AS score
         |       FROM cand c JOIN s1 ON c.qid = s1.qid AND c.nid <> s1.nid
         |       JOIN sims s ON s.qid = c.qid AND s.a = c.nid AND s.b = s1.nid),
         |s2 AS (SELECT qid, nid, score FROM (SELECT qid, nid, score,
         |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn FROM m2)
         |       WHERE rn = 1),
         |m3 AS (SELECT c.qid, c.nid,
         |         0.7 * c.rel - 0.3 * greatest(x1.sim, x2.sim) AS score
         |       FROM cand c JOIN s1 ON c.qid = s1.qid AND c.nid <> s1.nid
         |       JOIN s2 ON c.qid = s2.qid AND c.nid <> s2.nid
         |       JOIN sims x1 ON x1.qid = c.qid AND x1.a = c.nid AND x1.b = s1.nid
         |       JOIN sims x2 ON x2.qid = c.qid AND x2.a = c.nid AND x2.b = s2.nid),
         |s3 AS (SELECT qid, nid, score FROM (SELECT qid, nid, score,
         |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn FROM m3)
         |       WHERE rn = 1)
         |SELECT qid, nid, rank, round(mmr, 6) AS mmr FROM (
         |  SELECT qid, nid, 1 AS rank, rel AS mmr FROM s1
         |  UNION ALL SELECT qid, nid, 2, score FROM s2
         |  UNION ALL SELECT qid, nid, 3, score FROM s3)
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val nd = Similarity.nativeDot(_: Column, _: Column)
      def cosC(a: Column, b: Column) =
        round(nd(a, b) / (sqrt(nd(a, a)) * sqrt(nd(b, b))), 6)
      val emb = Tables.embeddings(s, d)
      val q = broadcast(emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
      val corpus = emb.filter(col("vec_id") >= 8 && col("vec_id") < 500)
        .select(col("vec_id").as("nid"), col("embedding").as("ne"))
      val base = corpus.crossJoin(q)
        .select(col("qid"), col("nid"), col("ne"), cosC(col("qe"), col("ne")).as("rel"))
      val cand = BoundedCache.persist("pack.mmr.cand",
        graft.ops.Ops.topKPerKey(base, Seq("qid"), Seq(("rel", true), ("nid", false)), 10))
      val sims = BoundedCache.persist("pack.mmr.sims",
        cand.select(col("qid"), col("nid").as("a"), col("ne").as("ae"))
          .join(cand.select(col("qid"), col("nid").as("b"), col("ne").as("be")), Seq("qid"))
          .filter(col("a") =!= col("b"))
          .select(col("qid"), col("a"), col("b"), cosC(col("ae"), col("be")).as("sim")))
      def top1(df: org.apache.spark.sql.DataFrame, score: String) =
        df.withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col(score).desc, col("nid"))))
          .filter(col("rn") === 1).drop("rn")
      val s1 = top1(cand.select(col("qid"), col("nid"), col("rel")), "rel")
      val s1k = broadcast(s1.select(col("qid"), col("nid").as("p1")))
      // sims renamed per use so every join key is unambiguous
      def simsTo(pick: String, simName: String) = sims.select(
        col("qid"), col("a").as("nid"), col("b").as(pick), col("sim").as(simName))
      val m2 = cand.select(col("qid"), col("nid"), col("rel"))
        .join(s1k, Seq("qid")).filter(col("nid") =!= col("p1"))
        .join(simsTo("p1", "sim"), Seq("qid", "nid", "p1"))
        .select(col("qid"), col("nid"), (lit(0.7) * col("rel") - lit(0.3) * col("sim")).as("score"))
      val s2 = top1(m2, "score")
      val s2k = broadcast(s2.select(col("qid"), col("nid").as("p2")))
      val m3 = cand.select(col("qid"), col("nid"), col("rel"))
        .join(s1k, Seq("qid")).join(s2k, Seq("qid"))
        .filter(col("nid") =!= col("p1") && col("nid") =!= col("p2"))
        .join(simsTo("p1", "sim1"), Seq("qid", "nid", "p1"))
        .join(simsTo("p2", "sim2"), Seq("qid", "nid", "p2"))
        .select(col("qid"), col("nid"),
          (lit(0.7) * col("rel") - lit(0.3) * greatest(col("sim1"), col("sim2"))).as("score"))
      val s3 = top1(m3, "score")
      s1.select(col("qid"), col("nid"), lit(1).as("rank"), col("rel").as("mmr"))
        .unionByName(s2.select(col("qid"), col("nid"), lit(2).as("rank"), col("score").as("mmr")))
        .unionByName(s3.select(col("qid"), col("nid"), lit(3).as("rank"), col("score").as("mmr")))
        .select(col("qid"), col("nid"), col("rank"), round(col("mmr"), 6).as("mmr"))
        .orderBy(col("qid"), col("rank"))
    },

    // Freshness monitoring — the DQ dimension dq_expectations (validity)
    // and dq_drift_psi (distribution) don't cover: how far behind is
    // each stream? Per event_type: last event time and its lag behind
    // the dataset high-water mark, flagged stale past 24 h. Lag is
    // integer epoch-microsecond arithmetic (exact cross-engine); the
    // high-water mark is one scalar broadcast over the per-type
    // aggregate — two partial+final passes over the scan, nothing else.
    QDef("dq_freshness",
      """WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |             max(ts) AS last_ts
        |           FROM events GROUP BY 1),
        |g AS (SELECT max(last_ts) AS gmax FROM m)
        |SELECT event_type, n_events, last_ts,
        |  (epoch_us(g.gmax) - epoch_us(last_ts)) // 1000000 AS secs_behind,
        |  (epoch_us(g.gmax) - epoch_us(last_ts)) // 1000000 > 86400 AS stale
        |FROM m, g ORDER BY event_type""".stripMargin) { (s, d) =>
      val m = BoundedCache.persist("pack.fresh.m",
        Tables.events(s, d).groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts")))
      val g = m.agg(max(col("last_ts")).as("gmax"))
      val lag = floor((unix_micros(col("gmax")) - unix_micros(col("last_ts"))) / lit(1000000L)).cast("long")
      m.crossJoin(broadcast(g))
        .select(col("event_type"), col("n_events"), col("last_ts"),
          lag.as("secs_behind"), (lag > 86400L).as("stale"))
        .orderBy(col("event_type"))
    },

    // Importance-weighted sampling — keep probability proportional to a
    // quality proxy (here min(1, n_chars/200)), decided by a
    // DETERMINISTIC md5-derived uniform per doc (the split_train_test
    // hash-bucket recipe widened to 16 bits), so the sample is
    // reproducible on any cluster with no shared RNG. The accept test
    // is PURE INTEGER (u16·200 < n_chars·65536), so not even the
    // weight computation can diverge; the reported expected rate is a
    // 1e12-quantized decimal mean. One scan, one aggregate.
    QDef("sample_importance",
      """WITH u AS (SELECT source, n_chars,
        |    ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) AS u16
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN u16 * 200 < n_chars * 65536 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(CAST(sum(CASE WHEN u16 * 200 < n_chars * 65536 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS keep_rate,
        |  round(CAST(sum(CAST(floor(least(CAST(1 AS DOUBLE), n_chars / CAST(200 AS DOUBLE)) * 1e12 + 0.5) / 1e12
        |                      AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS expected_rate
        |FROM u GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val u16 = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
      val kept = sum(when(col("u16") * 200 < col("n_chars") * 65536, 1L).otherwise(0L))
      Tables.documents(s, d)
        .select(col("source"), col("n_chars"), u16.as("u16"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), kept.as("n_kept"),
          round(kept.cast("double") / count(lit(1)), 6).as("keep_rate"),
          round(sum(qdec(least(lit(1).cast("double"), col("n_chars") / lit(200).cast("double")), 1e12))
            .cast("double") / count(lit(1)), 6).as("expected_rate"))
        .orderBy(col("source"))
    },

    // Johnson-Lindenstrauss random projection to 16 dims — the
    // dimensionality-reduction sibling of ann_matryoshka_topk (prefix
    // truncation) and emb_pq_codes (quantization): project every vector
    // onto 16 data-derived hyperplanes (the first 16 corpus vectors —
    // deterministic and engine-reproducible, the lshAssign convention;
    // a seeded Gaussian drops into the same plan). The plane block
    // broadcasts once; the corpus is touched map-side — 4× less scan
    // bandwidth downstream at 100 TB. Long-form output so the oracle
    // checks every projected component.
    QDef("emb_project_rp",
      s"""WITH planes AS (SELECT vec_id AS j, embedding AS pe FROM embeddings WHERE vec_id < 16)
         |SELECT e.vec_id, p.j, round(${dotSql("e.embedding", "p.pe")}, 6) AS v
         |FROM embeddings e, planes p
         |ORDER BY e.vec_id, p.j""".stripMargin) { (s, d) =>
      val nd = Similarity.nativeDot(_: Column, _: Column)
      val emb = Tables.embeddings(s, d)
      val planes = broadcast(emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("j"), col("embedding").as("pe")))
      emb.select(col("vec_id"), col("embedding")).crossJoin(planes)
        .select(col("vec_id"), col("j"), round(nd(col("embedding"), col("pe")), 6).as("v"))
        .orderBy(col("vec_id"), col("j"))
    },

    // ST11 — offline STATE-STORE inspection (Spark 4 State Data Source):
    // run a checkpointed streaming aggregation, then read the
    // checkpoint's state store back AS A TABLE with
    // `spark.read.format("statestore")` — the state-debugging /
    // state-migration surface every production streaming deployment
    // eventually needs (what keys does my job hold? is state leaking?).
    // The declared result is the state itself (per-type counts pulled
    // from the store, NOT from the sink), which must equal the batch
    // aggregate — pinning that the store holds exactly the semantics
    // the oracle predicts.
    QDef("st11_state_reader",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events WHERE event_id % 31 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types._
      val run = Runs.start(s, "st11_state_reader")
      Tables.events(s, d).filter(col("event_id") % 31 === 0)
        .select(col("event_id"), col("event_type"))
        .coalesce(1).write.parquet(run.in + "/b1")
      val sch = StructType(Seq(StructField("event_id", LongType),
        StructField("event_type", StringType)))
      val q = graft.Session.derived(s, graft.Session.Stream)
        .readStream.schema(sch).parquet(run.in + "/*")
        .groupBy(col("event_type")).count()
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", run.ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.format("statestore").option("path", run.ckpt).load()
        .select(col("key.event_type").as("event_type"), col("value.count").as("n"))
        .orderBy(col("event_type"))
    },

    // Lag-1 autocorrelation per event_type — the seasonality/stickiness
    // probe for time-series features (an AR(1) signal says "yesterday
    // predicts today"; ~0 says the feature is noise). Consecutive pairs
    // come from a lag window per (event_type, user) — each user's
    // history sorts within its own task — and the Pearson correlation
    // over pairs derives from six exact DECIMAL moments in one
    // partial+final pass (the agg_corr_stats / Welch recipe).
    QDef("ts_autocorr_lag1",
      """WITH p AS (SELECT event_type, value AS y,
        |             lag(value) OVER (PARTITION BY event_type, user_id ORDER BY event_id) AS x
        |           FROM events),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |        CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |        CAST(sum(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |        CAST(sum(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |      FROM p WHERE x IS NOT NULL GROUP BY 1)
        |SELECT event_type, n AS n_pairs,
        |  round((sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS autocorr
        |FROM m ORDER BY event_type""".stripMargin) { (s, d) =>
      val D = DecimalType(18, 2)
      def dc(c: Column) = c.cast(D)
      val w = Window.partitionBy(col("event_type"), col("user_id")).orderBy(col("event_id"))
      val p = Tables.events(s, d)
        .select(col("event_type"), col("value").as("y"),
          lag(col("value"), 1).over(w).as("x"))
        .filter(col("x").isNotNull)
      val m = p.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(dc(col("x"))).cast("double").as("sx"),
        sum(dc(col("y"))).cast("double").as("sy"),
        sum(dc(col("x")) * dc(col("x"))).cast("double").as("sxx"),
        sum(dc(col("y")) * dc(col("y"))).cast("double").as("syy"),
        sum(dc(col("x")) * dc(col("y"))).cast("double").as("sxy"))
      m.select(col("event_type"), col("n").as("n_pairs"),
          round((col("sxy") - col("sx") * col("sy") / col("n"))
            / sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
              * (col("syy") - col("sy") * col("sy") / col("n"))), 6).as("autocorr"))
        .orderBy(col("event_type"))
    },

    // Pairwise covariance/correlation matrix over the three numeric
    // lineitem measures in ONE scan: every moment (three sums, three
    // sums of squares, three cross products, one count) is a
    // conditional-aggregation column of the same partial+final pass —
    // the dq_expectations single-scan discipline applied to second-order
    // statistics. Exact DECIMAL moments; cov and corr derive in doubles
    // with the oracle's expression shape.
    QDef("stats_cov_matrix",
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sd,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sqq,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS spp,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sdd,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sqp,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sqd,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS spd
        |  FROM lineitem),
        |r AS (
        |  SELECT 'quantity_price' AS pair, n, (sqp - sq * sp / n) / (n - 1) AS cov,
        |    (sqp - sq * sp / n) / sqrt((sqq - sq * sq / n) * (spp - sp * sp / n)) AS corr FROM m
        |  UNION ALL
        |  SELECT 'quantity_discount', n, (sqd - sq * sd / n) / (n - 1),
        |    (sqd - sq * sd / n) / sqrt((sqq - sq * sq / n) * (sdd - sd * sd / n)) FROM m
        |  UNION ALL
        |  SELECT 'price_discount', n, (spd - sp * sd / n) / (n - 1),
        |    (spd - sp * sd / n) / sqrt((spp - sp * sp / n) * (sdd - sd * sd / n)) FROM m)
        |SELECT pair, n, round(cov, 6) AS cov, round(corr, 6) AS corr
        |FROM r ORDER BY pair""".stripMargin) { (s, d) =>
      val D = DecimalType(18, 2)
      def dc(c: String) = col(c).cast(D)
      val m = Tables.lineitem(s, d).agg(
        count(lit(1)).as("n"),
        sum(dc("l_quantity")).cast("double").as("sq"),
        sum(dc("l_extendedprice")).cast("double").as("sp"),
        sum(dc("l_discount")).cast("double").as("sd"),
        sum(dc("l_quantity") * dc("l_quantity")).cast("double").as("sqq"),
        sum(dc("l_extendedprice") * dc("l_extendedprice")).cast("double").as("spp"),
        sum(dc("l_discount") * dc("l_discount")).cast("double").as("sdd"),
        sum(dc("l_quantity") * dc("l_extendedprice")).cast("double").as("sqp"),
        sum(dc("l_quantity") * dc("l_discount")).cast("double").as("sqd"),
        sum(dc("l_extendedprice") * dc("l_discount")).cast("double").as("spd"))
      def pairRow(name: String, sxy: Column, sx: Column, sy: Column,
                  sxx: Column, syy: Column) = struct(
        lit(name).as("pair"), col("n"),
        ((sxy - sx * sy / col("n")) / (col("n") - lit(1))).as("cov"),
        ((sxy - sx * sy / col("n"))
          / sqrt((sxx - sx * sx / col("n")) * (syy - sy * sy / col("n")))).as("corr"))
      m.select(explode(array(
          pairRow("quantity_price", col("sqp"), col("sq"), col("sp"), col("sqq"), col("spp")),
          pairRow("quantity_discount", col("sqd"), col("sq"), col("sd"), col("sqq"), col("sdd")),
          pairRow("price_discount", col("spd"), col("sp"), col("sd"), col("spp"), col("sdd"))))
          .as("r"))
        .select(col("r.pair").as("pair"), col("r.n").as("n"),
          round(col("r.cov"), 6).as("cov"), round(col("r.corr"), 6).as("corr"))
        .orderBy(col("pair"))
    }
  )

  /** Second query group of the continuation batches (kept in a second
    * Seq only to keep the first one readable). */
  val queries2: Seq[QDef] = Seq(

    // Time-weighted average value per user (TWAP) — the right mean for
    // irregular event streams, where a value that persisted for an hour
    // must outweigh one that lasted a second (the plain mean is
    // stats_column_profile's job). Interval weights are integer epoch
    // seconds from a lead() window per user; the weighted numerator is
    // an exact DECIMAL sum, so the statistic is order-free.
    QDef("window_twap",
      """WITH iv AS (SELECT user_id, value,
        |    (epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY event_id)) - epoch_us(ts)) // 1000000 AS dt
        |  FROM events),
        |w AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |        CAST(sum(dt) AS BIGINT) AS total_secs,
        |        CAST(sum(CAST(value AS DECIMAL(18,2)) * dt) AS DOUBLE) AS wsum
        |      FROM iv WHERE dt IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_intervals, total_secs,
        |  round(wsum / total_secs, 6) AS twap
        |FROM w WHERE total_secs > 0 ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val iv = Tables.events(s, d).select(col("user_id"), col("value"),
          floor((unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts"))) / lit(1000000L))
            .cast("long").as("dt"))
        .filter(col("dt").isNotNull)
      iv.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"), sum(col("dt")).as("total_secs"),
          sum(col("value").cast(DecimalType(18, 2)) * col("dt")).cast("double").as("wsum"))
        .filter(col("total_secs") > 0)
        .select(col("user_id"), col("n_intervals"), col("total_secs"),
          round(col("wsum") / col("total_secs"), 6).as("twap"))
        .orderBy(col("user_id"))
    },

    // Per-document keyword extraction: top-5 terms by TF-IDF — the
    // text_tfidf scoring surface turned into the operation users
    // actually run (tag every document with its salient terms). The
    // |vocab|-sized df table broadcasts so the corpus never shuffles by
    // term; per-doc selection is the bounded-heap top-k, not a window
    // sort over every (doc, term) row.
    QDef("text_keywords_topk",
      """WITH words AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY w),
        |n AS (SELECT count(*) AS total FROM documents),
        |scored AS (SELECT t.doc_id, t.w,
        |             round(t.tf * ln((n.total + 1.0) / (d.df + 1.0)), 6) AS tfidf
        |           FROM tf t JOIN df d USING (w) CROSS JOIN n),
        |r AS (SELECT doc_id, w, tfidf,
        |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS INTEGER) AS rank
        |      FROM scored)
        |SELECT doc_id, w, tfidf, rank FROM r WHERE rank <= 5
        |ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
      val words = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val wordsP = BoundedCache.persist("pack.kw.words", words)
      val tf = wordsP.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val df = wordsP.groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("total"))
      val scored = tf.join(broadcast(df), Seq("w")).crossJoin(broadcast(n))
        .select(col("doc_id"), col("w"),
          round(col("tf") * log((col("total") + 1.0) / (col("df") + 1.0)), 6).as("tfidf"))
      val top = graft.ops.Ops.topKPerKey(
        scored, Seq("doc_id"), Seq(("tfidf", true), ("w", false)), 5)
      top.withColumn("rank", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("w"))).cast("int"))
        .orderBy(col("doc_id"), col("rank"))
    },

    // Embedding outlier detection — distance to the vector's OWN stored
    // label centroid, flagged past mean + 2σ of its label's distance
    // distribution (the data-cleaning pass before embedding-space
    // training: mislabeled or corrupted vectors sit far from their
    // centroid). Squared-distance terms are 12dp-quantized DECIMAL sums
    // (the PQ discipline); per-label mean/σ from quantized moments. The
    // centroid table is the persisted train-once artifact, broadcast
    // into the exploded corpus — one pass, one (vec, label) aggregate.
    QDef("emb_outlier_centroid_dist",
      """WITH cents AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
        |               FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
        |terms AS (SELECT e.vec_id, e.label,
        |            CAST(floor((CAST(e.embedding[t.i] AS DOUBLE) - c.mean)
        |                       * (CAST(e.embedding[t.i] AS DOUBLE) - c.mean) * 1e12 + 0.5) / 1e12
        |                 AS DECIMAL(28,12)) AS t
        |          FROM embeddings e, range(1, 65) t(i)
        |          JOIN cents c ON c.label = e.label AND c.i = t.i),
        |dist AS (SELECT vec_id, label, CAST(sum(t) AS DOUBLE) AS dist
        |         FROM terms GROUP BY vec_id, label),
        |stats AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
        |            CAST(sum(CAST(floor(dist * 1e9 + 0.5) / 1e9 AS DECIMAL(28,12))) AS DOUBLE) AS sd,
        |            CAST(sum(CAST(floor(dist * dist * 1e9 + 0.5) / 1e9 AS DECIMAL(28,12))) AS DOUBLE) AS sdd
        |          FROM dist GROUP BY label)
        |SELECT d.vec_id, d.label, round(d.dist, 6) AS dist,
        |  d.dist > s.sd / s.n + 2 * sqrt((s.sdd - s.sd / s.n * s.sd) / (s.n - 1)) AS is_outlier
        |FROM dist d JOIN stats s USING (label)
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val cent = broadcast(PackExt.persistedCentroids(s, d)
        .select(col("label").as("clabel"), col("i"), col("mean")))
      val diff = col("v").cast("double") - col("mean")
      val terms = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .join(cent, col("label") === col("clabel") && (col("pos") + 1) === col("i"))
        .select(col("vec_id"), col("label"), qdec(diff * diff, 1e12).as("t"))
      val dist = terms.groupBy(col("vec_id"), col("label"))
        .agg(sum(col("t")).cast("double").as("dist"))
      val distP = BoundedCache.persist("pack.emboutlier.dist", dist)
      val stats = distP.groupBy(col("label")).agg(count(lit(1)).as("n"),
        sum(qdec(col("dist"), 1e9)).cast("double").as("sd"),
        sum(qdec(col("dist") * col("dist"), 1e9)).cast("double").as("sdd"))
      distP.join(broadcast(stats), Seq("label"))
        .select(col("vec_id"), col("label"), round(col("dist"), 6).as("dist"),
          (col("dist") > col("sd") / col("n")
            + lit(2) * sqrt((col("sdd") - col("sd") / col("n") * col("sd")) / (col("n") - lit(1))))
            .as("is_outlier"))
        .orderBy(col("vec_id"))
    },

    // CUSUM change-point detection per event_type — the TIME-LOCALIZED
    // member of the drift family (PSI/KS find that shape changed; CUSUM
    // finds WHEN the mean moved): hourly value sums aggregate first
    // (the KS pre-binning discipline — the window sees bounded bucket
    // rows, never raw events), then the cumulative sum of per-hour
    // deviations from the overall mean peaks at the change point.
    // Each per-hour deviation term is 1e6-quantized to DECIMAL(28,12)
    // BEFORE the window sum (the NOTES rule-0 shape): the cumulative sum
    // is then exact and order-free, immune to tree-ordered window
    // aggregation or scale pushing a raw-double sequential sum past the
    // final 6dp round.
    QDef("ts_cusum_drift",
      """WITH b AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |             CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |           FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot,
        |        CAST(sum(CAST(sv AS DECIMAL(28,6))) AS DOUBLE) AS gsv
        |      FROM b GROUP BY 1),
        |cs AS (SELECT b.event_type, b.h,
        |         sum(CAST(floor((b.sv - b.n * (g.gsv / g.tot)) * 1e6 + 0.5) / 1e6
        |                  AS DECIMAL(28,12))) OVER
        |           (PARTITION BY b.event_type ORDER BY b.h) AS s
        |       FROM b JOIN g USING (event_type)),
        |r AS (SELECT event_type, h, s,
        |        row_number() OVER (PARTITION BY event_type ORDER BY abs(s) DESC, h) AS rn
        |      FROM cs)
        |SELECT event_type, h AS drift_hour, round(CAST(s AS DOUBLE), 6) AS max_cusum
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val b = BoundedCache.persist("pack.cusum.b",
        Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sv")))
      val g = b.groupBy(col("event_type"))
        .agg(sum(col("n")).as("tot"),
          sum(col("sv").cast(DecimalType(28, 6))).cast("double").as("gsv"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val cs = b.join(broadcast(g), Seq("event_type"))
        .select(col("event_type"), col("h"),
          sum(qdec(col("sv") - col("n") * (col("gsv") / col("tot")), 1e6))
            .over(w).as("s"))
      cs.withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(abs(col("s")).desc, col("h"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("h").as("drift_hour"),
          round(col("s").cast("double"), 6).as("max_cusum"))
        .orderBy(col("event_type"))
    },

    // Pseudo-relevance feedback (RM3-lite query expansion) — the
    // retrieval family's remaining production stage: retrieve top-3
    // feedback docs lexically, harvest their 5 most frequent NEW terms
    // (not already in the query), and re-score the corpus by expanded
    // overlap. Every score here is an INTEGER count with string
    // tiebreaks — the one retrieval operator with zero float surface.
    // Scale: both retrieval passes are the inverted-index join; the
    // expansion term set is ≤ 5 terms/query, broadcast.
    QDef("retrieval_prf_expansion",
      """WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS w
        |              FROM documents WHERE doc_id < 500),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
        |inter AS (SELECT q.doc_id AS qid, c.doc_id AS nid, CAST(count(*) AS BIGINT) AS inter
        |          FROM toks q JOIN toks c ON q.w = c.w AND q.doc_id < 8 AND c.doc_id >= 8
        |          GROUP BY 1, 2),
        |lex AS (SELECT qid, nid, inter * 1.0 / (x.n + y.n - inter) AS jac
        |        FROM inter JOIN sz x ON qid = x.doc_id JOIN sz y ON nid = y.doc_id),
        |fb AS (SELECT qid, nid FROM (SELECT qid, nid,
        |         row_number() OVER (PARTITION BY qid ORDER BY jac DESC, nid) AS rn FROM lex)
        |       WHERE rn <= 3),
        |cand_terms AS (SELECT f.qid, t.w, CAST(count(*) AS BIGINT) AS cnt
        |               FROM fb f JOIN toks t ON t.doc_id = f.nid
        |               LEFT JOIN toks q ON q.doc_id = f.qid AND q.w = t.w
        |               WHERE q.w IS NULL GROUP BY 1, 2),
        |exp AS (SELECT qid, w FROM (SELECT qid, w,
        |          row_number() OVER (PARTITION BY qid ORDER BY cnt DESC, w) AS rn FROM cand_terms)
        |        WHERE rn <= 5),
        |scored AS (SELECT e.qid, t.doc_id AS nid, CAST(count(*) AS BIGINT) AS score
        |           FROM exp e JOIN toks t ON t.w = e.w AND t.doc_id >= 8
        |           GROUP BY 1, 2),
        |r AS (SELECT qid, nid, score,
        |        CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS INTEGER) AS rank
        |      FROM scored)
        |SELECT qid, nid, score, rank FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      val toksP = BoundedCache.persist("pack.prf.toks", toks)
      val sizes = toksP.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = toksP.filter(col("doc_id") < 8).select(col("doc_id").as("qid"), col("w"))
        .join(toksP.filter(col("doc_id") >= 8).select(col("doc_id").as("nid"), col("w")), Seq("w"))
        .groupBy(col("qid"), col("nid")).agg(count(lit(1)).as("inter"))
      val lex = inter
        .join(broadcast(sizes.select(col("doc_id").as("qid"), col("n").as("nq"))), Seq("qid"))
        .join(sizes.select(col("doc_id").as("nid"), col("n").as("nc")), Seq("nid"))
        .select(col("qid"), col("nid"),
          (col("inter") * lit(1.0) / (col("nq") + col("nc") - col("inter"))).as("jac"))
      val fb = lex.withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("jac").desc, col("nid"))))
        .filter(col("rn") <= 3).select(col("qid"), col("nid"))
      val qtoks = toksP.filter(col("doc_id") < 8)
        .select(col("doc_id").as("qqid"), col("w").as("qw"))
      val candTerms = fb
        .join(toksP.select(col("doc_id").as("nid"), col("w")), Seq("nid"))
        .join(broadcast(qtoks), col("qid") === col("qqid") && col("w") === col("qw"), "left")
        .filter(col("qw").isNull)
        .select(col("qid"), col("w"))
        .groupBy(col("qid"), col("w")).agg(count(lit(1)).as("cnt"))
      val exp5 = broadcast(candTerms.withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cnt").desc, col("w"))))
        .filter(col("rn") <= 5).select(col("qid"), col("w")))
      val scored = toksP.filter(col("doc_id") >= 8).select(col("doc_id").as("nid"), col("w"))
        .join(exp5, Seq("w"))
        .groupBy(col("qid"), col("nid")).agg(count(lit(1)).as("score"))
      scored.withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))).cast("int"))
        .filter(col("rank") <= 5)
        .orderBy(col("qid"), col("rank"))
    },

    // Benford's-law first-digit audit on the money column — the
    // classic forensic DQ check (organic monetary amounts follow
    // P(d) = log10(1 + 1/d); fabricated or truncated data doesn't).
    // Digit extraction is INTEGER+STRING only: first digit of the
    // cent-scaled integer equals the first significant digit of the
    // amount, so no log10-near-power float edge can flip a digit.
    // One count pass; expected shares are ln(1+1/d)/ln(10) with the
    // oracle's expression shape.
    QDef("stats_benford_digits",
      """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |           FROM lineitem WHERE l_extendedprice > 0),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / t.tot, 6) AS obs_p,
        |  round(ln(1 + 1.0 / digit) / ln(10), 6) AS exp_p
        |FROM c, t ORDER BY digit""".stripMargin) { (s, d) =>
      val dig = Tables.lineitem(s, d).filter(col("l_extendedprice") > 0)
        .select(substring(floor(col("l_extendedprice") * 100 + 0.5).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
      val c = BoundedCache.persist("pack.benford.c",
        dig.groupBy(col("digit")).agg(count(lit(1)).as("n")))
      val t = c.agg(sum(col("n")).as("tot"))
      c.crossJoin(broadcast(t))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("tot"), 6).as("obs_p"),
          round(log(lit(1) + lit(1.0) / col("digit")) / log(lit(10.0)), 6).as("exp_p"))
        .orderBy(col("digit"))
    },

    // Hour-of-day seasonality profile per event_type — the diurnal
    // fingerprint (peak hour, peak share, and the concentration factor
    // peak/uniform) feeding capacity planning and the CUSUM/KS drift
    // baselines. One count pass into 24 buckets; peak selection is an
    // integer max with a min-hour tiebreak — all integer until the two
    // final share divisions.
    QDef("ts_seasonality_hod",
      """WITH h AS (SELECT event_type, CAST(hour(ts) AS INTEGER) AS hod,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot, CAST(max(n) AS BIGINT) AS mx
        |      FROM h GROUP BY 1),
        |p AS (SELECT h.event_type, CAST(min(h.hod) AS INTEGER) AS peak_hour
        |      FROM h JOIN t USING (event_type) WHERE h.n = t.mx GROUP BY 1)
        |SELECT t.event_type, p.peak_hour, t.tot AS n_events,
        |  round(CAST(t.mx AS DOUBLE) / t.tot, 6) AS peak_share,
        |  round(CAST(t.mx AS DOUBLE) * 24 / t.tot, 6) AS concentration
        |FROM t JOIN p USING (event_type) ORDER BY event_type""".stripMargin) { (s, d) =>
      val h = BoundedCache.persist("pack.hod.h",
        Tables.events(s, d)
          .groupBy(col("event_type"), hour(col("ts")).cast("int").as("hod"))
          .agg(count(lit(1)).as("n")))
      val t = h.groupBy(col("event_type"))
        .agg(sum(col("n")).as("tot"), max(col("n")).as("mx"))
      val p = h.join(broadcast(t), Seq("event_type"))
        .filter(col("n") === col("mx"))
        .groupBy(col("event_type")).agg(min(col("hod")).cast("int").as("peak_hour"))
      t.join(broadcast(p), Seq("event_type"))
        .select(col("event_type"), col("peak_hour"), col("tot").as("n_events"),
          round(col("mx").cast("double") / col("tot"), 6).as("peak_share"),
          round(col("mx").cast("double") * 24 / col("tot"), 6).as("concentration"))
        .orderBy(col("event_type"))
    }
  )
}
