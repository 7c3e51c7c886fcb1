package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.schemas.Tables
import graft.ext.{Multimodal, Similarity, TextAnalysis, TextDedup}

/** Extension query pack — the training-data-pipeline operators
  * (SURVEY.md §7.1 item 8; BASELINE.json north star): deduplication
  * (exact / fingerprint / MinHash-LSH / SimHash / Jaccard), similarity
  * search (brute-force + IVF ANN), text analysis, multimodal columns.
  *
  * Pairwise verification steps are bounded to fixed doc_id/vec_id ranges
  * so their cost is constant across scale factors; the candidate
  * *generation* (LSH banding, bucketed ANN) runs on the full table and is
  * the part that must scale — see the Scaladoc in graft.ext. */
object PackExt {

  /** DuckDB RECURSIVE derivation of the learned BPE merges — the
    * fixed-point restatement of the whole train loop (the
    * pageRank/CC-oracle precedent), replacing r16's per-round unrolled
    * CTE chain, which could not scale past single-digit round counts
    * (each unrolled round referenced the previous vocabulary twice).
    * Each iteration carries the entire frequency-weighted char-spaced
    * vocabulary one merge forward and tags every row with the merge it
    * applied (count-desc + lexical-tiebreak argmax, then the global
    * single-space boundary-checked replace); the recursion ends when the
    * pair table empties (every word one symbol) or at `rounds`. Must be
    * prefixed `WITH RECURSIVE`. Exposes `bpe(r, sp, freq, a, b, n)`;
    * round r's merge is the (a,b,n) on its vocabulary rows. Shared by
    * text_bpe_train (which SELECTs the distinct per-round merges),
    * text_bpe_train_encode (which re-applies them to documents), and
    * text_bpe_vocab_swap_serve (which derives TWO vocabularies — corpus
    * slices select via `where`, and `cte` names the recursion so two
    * instances coexist in one WITH RECURSIVE), so the training
    * arithmetic is stated once. */
  private def bpeTrainRecursiveCte(rounds: Int, where: String = "",
      cte: String = "bpe"): String =
    s"""$cte(r, sp, freq, a, b, n) AS (
       |  SELECT 0, trim(regexp_replace(w, '([a-z])', '\\1 ', 'g')), freq,
       |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
       |  FROM (SELECT w, count(*) AS freq FROM (
       |          SELECT unnest(string_split(lower(regexp_replace(text, '[^A-Za-z]+', ' ', 'g')), ' ')) AS w
       |          FROM documents $where) WHERE w <> '' GROUP BY w)
       |  UNION ALL
       |  SELECT r + 1,
       |         regexp_replace(sp, '\\b' || w.wa || ' ' || w.wb || '\\b', w.wa || w.wb, 'g'),
       |         freq, w.wa, w.wb, w.wn
       |  FROM $cte, (SELECT wa, wb, wn FROM (
       |         SELECT p[1] AS wa, p[2] AS wb, CAST(sum(freq) AS BIGINT) AS wn,
       |                row_number() OVER (ORDER BY sum(freq) DESC, p[1], p[2]) AS rn
       |         FROM (SELECT unnest(list_transform(range(1, length(s)), i -> [s[i], s[i+1]])) AS p, freq
       |               FROM (SELECT string_split(sp, ' ') AS s, freq FROM $cte))
       |         GROUP BY p[1], p[2]) WHERE rn = 1) w
       |  WHERE r < $rounds
       |)""".stripMargin

  /** One IVF serve chain (probe → bucket-restricted score → rank) for the
    * swap/lifecycle oracles, emitted per quantizer from a single
    * definition — branches compared against each other must never be
    * edited out of lockstep. Emits CTEs p$tag/s$tag/r$tag reading the
    * `q` (qid, qe) CTE and the `$cvec` (pb, cv) centroid CTE. */
  private def ivfServeCtes(tag: String, cvec: String): String =
    s"""p$tag AS (SELECT qid, pb FROM (
       |       SELECT qid, pb, row_number() OVER (PARTITION BY qid ORDER BY
       |         round(list_reduce(list_transform(range(1, 65),
       |           i -> CAST(qe[i] AS DOUBLE) * cv[i]), (a,b) -> a+b), 6) DESC, pb) AS pr
       |       FROM q, $cvec) WHERE pr = 1),
       |s$tag AS (SELECT q.qid, e.vec_id AS nid, round(${cosSql("q.qe", "e.embedding")}, 6) AS cos
       |       FROM q JOIN p$tag ON p$tag.qid = q.qid
       |       JOIN embeddings e ON e.label = p$tag.pb AND e.vec_id <> q.qid),
       |r$tag AS (SELECT qid, nid, cos,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
       |       FROM s$tag)""".stripMargin

  /** One arrival-batch quantization-error chain (serving assignment →
    * per-vector 12dp-decimal squared distance → per-bucket 6dp mean →
    * exact DECIMAL(18,6)×n total) for the maintenance-e2e promotion
    * gate, emitted per candidate quantizer from a single definition so
    * the gate's arithmetic can never drift between candidates. Reads
    * the `qa` (qid, qe) arrival CTE and the `$cents` (label, i, mean) /
    * `$cvec` (pb, cv) centroid CTEs; exposes `tot$tag(err)`. The total
    * is a DECIMAL sum of 6dp-rounded bucket means — order-free and
    * engine-invariant, so both engines reach the same promote/reject
    * decision by construction. */
  private def quantErrCtes(tag: String, cents: String, cvec: String): String =
    s"""asg$tag AS (SELECT qid, pb FROM (
       |        SELECT qa.qid, c.pb, row_number() OVER (PARTITION BY qa.qid ORDER BY
       |          round(list_reduce(list_transform(range(1, 65),
       |            i -> CAST(qa.qe[i] AS DOUBLE) * c.cv[i]), (a,b) -> a+b), 6) DESC, c.pb) AS pr
       |        FROM qa, $cvec c) WHERE pr = 1),
       |vd$tag AS (SELECT a.pb AS b, e.vec_id,
       |         sum(CAST(floor((CAST(e.embedding[t.i] AS DOUBLE) - c.mean)
       |                        * (CAST(e.embedding[t.i] AS DOUBLE) - c.mean) * 1e12 + 0.5) / 1e12
       |                  AS DECIMAL(28,12))) AS dist
       |       FROM embeddings e JOIN asg$tag a ON a.qid = e.vec_id, range(1, 65) t(i)
       |       JOIN $cents c ON c.i = t.i AND c.label = a.pb
       |       GROUP BY a.pb, e.vec_id),
       |bt$tag AS (SELECT b, count(*) AS n,
       |         round(CAST(sum(dist) AS DOUBLE) / count(*), 6) AS d
       |       FROM vd$tag GROUP BY b),
       |tot$tag AS (SELECT sum(CAST(d AS DECIMAL(18,6)) * n) AS err FROM bt$tag)""".stripMargin

  /** Recursive per-rank merge application over a document slice — the
    * DuckDB encode half shared by text_bpe_vocab_swap_serve and the
    * streaming version-pickup query: documents selected by `docWhere`
    * char-space at er=0, then each iteration applies the `merges` CTE's
    * rank er+1 entry globally; the join itself ends the recursion when
    * ranks run out. `merges` must be MATERIALIZED by the caller (an
    * inlined reference re-runs its whole derivation per iteration). */
  private def bpeEncRecursiveCte(cte: String, merges: String,
      docWhere: String): String =
    s"""$cte(doc_id, e, er) AS (
       |  SELECT doc_id,
       |    regexp_replace(lower(regexp_replace(text, '[^A-Za-z]+', ' ', 'g')), '([a-z])', '\\1 ', 'g'),
       |    0
       |  FROM documents $docWhere
       |  UNION ALL
       |  SELECT $cte.doc_id,
       |    regexp_replace(e, '\\b' || m.a || ' ' || m.b || '\\b', m.a || m.b, 'g'),
       |    er + 1
       |  FROM $cte JOIN $merges m ON m.rank = $cte.er + 1
       |)""".stripMargin

  /** The token-stats projection over a finished encode recursion
    * (tokens / distinct tokens / stream md5 at the deepest round),
    * tagged by `tagExpr` — shared so the two consumers' compared
    * values can never drift. */
  private def bpeEncFinal(tagExpr: String, cte: String): String =
    s"""SELECT $tagExpr, doc_id,
       |  CASE WHEN trim(e) = '' THEN 0
       |       ELSE CAST(length(string_split_regex(trim(e), ' +')) AS BIGINT) END AS n_tokens,
       |  CASE WHEN trim(e) = '' THEN 0
       |       ELSE CAST(length(list_distinct(string_split_regex(trim(e), ' +'))) AS BIGINT) END AS n_unique,
       |  md5(trim(e)) AS enc_md5
       |FROM $cte WHERE er = (SELECT max(er) FROM $cte)""".stripMargin

  /** DuckDB-side sequential-double dot product matching Similarity.dot. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, length($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (acc,x) -> acc + x)"
  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** DuckDB-side PQ training + ADC scan CTE block (codebook → codes →
    * per-query LUT → summed approximate distances → rank), shared by
    * `ann_pq_adc_topk` and the refine/recall oracles so the quantization
    * arithmetic is stated in exactly one place. Exposes CTEs `q`
    * (qid/qe for vec_id < 10) and `rr` (qid, nid, adist, rank). */
  private val pqAdcRankSql: String =
    """c AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
      |           FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
      |cd AS (SELECT e.vec_id, CAST((t.i - 1) // 8 AS INTEGER) AS sub, c.label,
      |         sum(CAST(floor((CAST(e.embedding[t.i] AS DOUBLE) - c.m)
      |                        * (CAST(e.embedding[t.i] AS DOUBLE) - c.m) * 1e12 + 0.5) / 1e12
      |                  AS DECIMAL(28,12))) AS dist
      |       FROM embeddings e, range(1, 65) t(i) JOIN c ON c.i = t.i
      |       GROUP BY e.vec_id, sub, c.label),
      |codes AS (SELECT vec_id, sub, label AS code FROM
      |            (SELECT vec_id, sub, label,
      |               row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, label) AS rn
      |             FROM cd) WHERE rn = 1),
      |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
      |lut AS (SELECT q.qid, CAST((t.i - 1) // 8 AS INTEGER) AS lsub, c.label AS llabel,
      |          sum(CAST(floor((CAST(q.qe[t.i] AS DOUBLE) - c.m)
      |                         * (CAST(q.qe[t.i] AS DOUBLE) - c.m) * 1e12 + 0.5) / 1e12
      |                   AS DECIMAL(28,12))) AS dlut
      |        FROM q, range(1, 65) t(i) JOIN c ON c.i = t.i
      |        GROUP BY q.qid, lsub, llabel),
      |adc AS (SELECT l.qid, k.vec_id AS nid,
      |          round(CAST(sum(l.dlut) AS DOUBLE), 6) AS adist
      |        FROM codes k JOIN lut l
      |          ON l.lsub = k.sub AND l.llabel = k.code AND k.vec_id <> l.qid
      |        GROUP BY l.qid, k.vec_id),
      |rr AS (SELECT qid, nid, adist,
      |         CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INTEGER) AS rank
      |       FROM adc)""".stripMargin

  /** DuckDB-side SQ8 encode + integer-dot scoring CTE block (absmax
    * int8 quantization → integer dot × the two scales), shared by
    * `ann_sq8_topk` and `ann_sq8_refine_topk` so the quantization
    * arithmetic is stated in exactly one place. Exposes CTE `sc`
    * (qid, nid, score) for vec_id < 10 queries. */
  private val sq8ScoreSql: String =
    """m AS (SELECT vec_id,
      |             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx,
      |             embedding
      |           FROM embeddings),
      |enc AS (SELECT vec_id, mx, i,
      |          CAST(round(CAST(embedding[i] AS DOUBLE) / mx * 127) AS BIGINT) AS iq
      |        FROM m, range(1, 65) t(i)),
      |qs AS (SELECT vec_id AS qid, mx AS qmx, i AS qi, iq AS qq FROM enc WHERE vec_id < 10),
      |sc AS (SELECT qs.qid, e.vec_id AS nid,
      |         round(CAST(sum(e.iq * qs.qq) AS DOUBLE) * qs.qmx * e.mx / 16129.0, 6) AS score
      |       FROM enc e JOIN qs ON e.i = qs.qi AND e.vec_id <> qs.qid
      |       GROUP BY qs.qid, e.vec_id, qs.qmx, e.mx)""".stripMargin

  /** Spark-side SQ8 scored frame (qid, nid, score) matching
    * [[sq8ScoreSql]]'s `sc` — quantized vectors stay ARRAYS and the
    * integer dot rides the codegen'd DotProduct expression: every
    * |product| ≤ 127² and the 64-term sum ≤ 2^21, so the double
    * accumulation is EXACT and order-free — same value as an explicit
    * BIGINT sum, none of the exploded-join/hash-agg machinery. */
  private def sq8Scored(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val enc = Tables.embeddings(s, d)
      .select(col("vec_id"),
        array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("mx"),
        col("embedding"))
      .select(col("vec_id"), col("mx"),
        transform(col("embedding"),
          v => round(v.cast("double") / col("mx") * 127, 0)).as("qv"))
    val qs8 = enc.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("mx").as("qmx"), col("qv").as("qqv"))
    enc.join(broadcast(qs8), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(Similarity.nativeDot(col("qv"), col("qqv"))
          * col("qmx") * col("mx") / lit(16129.0), 6).as("score"))
  }

  /** Train-once IVF coarse quantizer: centroids are computed one time per
    * corpus and persisted as a Warehouse parquet table; every IVF query
    * (single- and multi-probe) serves from the stored table instead of
    * re-deriving it per run — the production shape (r4 VERDICT #9). The
    * table content is deterministic (6dp-rounded per-bucket means), so a
    * pre-existing table from an earlier run is simply read back.
    *
    * The cache key is the input's canonical path PLUS a content
    * fingerprint (file name/length/mtime of every data file), so a
    * regenerated fixture at the same path — or two corpora whose dirs
    * share a basename — self-invalidates instead of serving stale
    * centroids. The write lands in a process-unique temp dir and is
    * RENAMED into place, so a concurrent bench/test in another process
    * either sees the complete table or none at all. */
  private[graft] def persistedCentroids(s: SparkSession, sfDir: String) =
    persistedTable(s, sfDir, "embeddings.parquet", "centroids")(
      Similarity.centroids(Tables.embeddings(s, sfDir), "label"))

  /** Train-once MinHash band index (r6 VERDICT #1): the corpus side of
    * the incremental near-dup gate, persisted exactly like the IVF
    * quantizer — every ingestion batch (dedup_minhash_incremental, the
    * streaming gate) probes the STORED (doc_id, band, bkey) table
    * instead of re-signing the whole corpus per run. The index side is
    * the 100 TB side; it is computed when the corpus lands and never
    * again (the warehouse-scale analog of the reference's loaded-id
    * gates, load_data/lambda_function.py:40-73). The indexed slice is
    * doc_id % 10 <> 0 — the already-ingested corpus of the declared
    * incremental queries. */
  private[graft] def persistedBandIndex(s: SparkSession, sfDir: String) =
    Tables.pinnedRead(s, persistedBandIndexPath(s, sfDir))

  /** Filesystem path of the persisted band index — for consumers that
    * need a PRIVATE mutable copy (st9's growing index): a byte-level
    * file copy of the table is ~10× cheaper than re-encoding it through
    * a Spark write job (measured 1.8 s → 0.2 s in the st9 cost split). */
  private[graft] def persistedBandIndexPath(s: SparkSession, sfDir: String): String =
    persistedTablePath(s, sfDir, "documents.parquet", "bandindex")(
      TextDedup.bandIndex(
        Tables.documents(s, sfDir).filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text"))

  /** Train-once PQ code table (r8 VERDICT #3): the (vec_id, sub, code)
    * assignment produced by [[Similarity.pqCodes]], persisted like the
    * IVF centroids so ann_pq_adc_topk's timed path is LUT build + ADC
    * scan only — the raw corpus embeddings are never re-encoded per
    * query. emb_pq_codes remains the declared TRAINING query (the same
    * split as ann_ivf_centroids vs ann_ivf_topk). */
  private[graft] def persistedPqCodes(s: SparkSession, sfDir: String) =
    persistedTable(s, sfDir, "embeddings.parquet", "pqcodes")(
      Similarity.pqCodes(Tables.embeddings(s, sfDir), dims = 64, nSub = 8))

  /** Fingerprint-keyed persisted-table cache shared by the trained
    * artifacts (IVF centroids, MinHash band index): key = canonical path
    * + content fingerprint of every data file of `srcName` under
    * `sfDir`, so a regenerated fixture self-invalidates; publish =
    * write to a process-unique temp dir + atomic rename, so concurrent
    * processes see a complete table or none. Deterministic builders
    * only: a lost rename race keeps the other process' content-identical
    * table. */
  private def persistedTable(s: SparkSession, sfDir: String, srcName: String,
                             prefix: String)(build: => org.apache.spark.sql.DataFrame) =
    // pinnedRead: the artifact is immutable once published (fingerprint-
    // keyed), so the schema is pinned like a base table's — per-query
    // re-inference was ~55-80 ms of driver time per construction
    Tables.pinnedRead(s, persistedTablePath(s, sfDir, srcName, prefix)(build))

  private def persistedTablePath(s: SparkSession, sfDir: String, srcName: String,
                                 prefix: String)(build: => org.apache.spark.sql.DataFrame): String =
    synchronized {
      val src = new java.io.File(sfDir, srcName)
      val dataFiles =
        if (src.isDirectory)
          Option(src.listFiles()).getOrElse(Array.empty[java.io.File]).sortBy(_.getName)
        else Array(src)
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(src.getCanonicalPath.getBytes("UTF-8"))
      dataFiles.foreach(f =>
        md.update(s"|${f.getName}:${f.length}:${f.lastModified}".getBytes("UTF-8")))
      val fp = md.digest().map("%02x".format(_)).mkString.take(16)
      val root = new java.io.File(sys.props("java.io.tmpdir"), "graft_ivf")
      val path = new java.io.File(root, s"${prefix}_$fp")
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        val tmp = new java.io.File(root,
          s"${prefix}_$fp.tmp.${ProcessHandle.current().pid()}")
        build.write.mode("overwrite").parquet(tmp.getPath)
        // lost the rename race → another process published the same
        // (content-identical, fingerprint-keyed) table; drop our copy
        if (!tmp.renameTo(path)) deleteRecursively(tmp)
      }
      path.getPath
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** SimHash signature CTE (shared by the two simhash queries). */
  private[queries] def simhashCte(pred: String): String =
    s"""words AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS w
       |          FROM documents WHERE $pred),
       |bits AS (SELECT doc_id, b,
       |    ((strpos('0123456789abcdef', substr(md5(w), CAST(b//4 AS INTEGER) + 1, 1)) - 1)
       |      >> CAST(3 - (b % 4) AS INTEGER)) & 1 AS bit
       |  FROM words, range(63) t(b)),
       |maj AS (SELECT doc_id, b, CASE WHEN 2*sum(bit) >= count(*) THEN 1 ELSE 0 END AS mbit
       |        FROM bits GROUP BY doc_id, b),
       |sh AS (SELECT doc_id,
       |         CAST(sum(CASE WHEN mbit = 1 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
       |       FROM maj GROUP BY doc_id)""".stripMargin

  val queries: Seq[QDef] = Seq(

    // ------------------------------------------------------------- dedup

    // CCNet-style duplicated-line removal: every 8-token line whose
    // exact content appears more than once corpus-wide is dropped from
    // ALL documents (boilerplate scrub). Salted (line, salt) counting —
    // hot boilerplate lines never concentrate on one task; the over-DF
    // line set is the boilerplate vocabulary, tiny by construction, and
    // broadcasts into the anti-join.
    QDef("text_line_dedup",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |idx AS (SELECT doc_id, t, unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS i FROM toks),
        |lines AS (SELECT doc_id, i,
        |            array_to_string(t[(i * 8 + 1):(i * 8 + 8)], ' ') AS line FROM idx),
        |cnt AS (SELECT line, count(*) AS n FROM lines GROUP BY line),
        |kept AS (SELECT l.doc_id, l.i, l.line
        |         FROM lines l JOIN cnt c USING (line) WHERE c.n <= 1),
        |tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id),
        |ka AS (SELECT doc_id, count(*) AS n_kept,
        |         md5(array_to_string(list(line ORDER BY i), ' ')) AS cleaned_md5
        |       FROM kept GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_lines, COALESCE(ka.n_kept, 0) AS n_kept,
        |       COALESCE(ka.cleaned_md5, md5('')) AS cleaned_md5
        |FROM tot LEFT JOIN ka ON tot.doc_id = ka.doc_id
        |ORDER BY tot.doc_id""".stripMargin) { (s, d) =>
      TextDedup.lineDedup(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    QDef("dedup_exact",
      """SELECT h, min(doc_id) AS keep_id, count(*) AS n
        |FROM (SELECT doc_id, md5(text) AS h FROM documents)
        |GROUP BY h ORDER BY h""".stripMargin) { (s, d) =>
      TextDedup.exact(Tables.documents(s, d), "doc_id", "text").orderBy(col("h"))
    },

    QDef("dedup_fingerprint",
      """SELECT fp, min(doc_id) AS keep_id, count(*) AS n
        |FROM (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp
        |      FROM documents)
        |GROUP BY fp ORDER BY fp""".stripMargin) { (s, d) =>
      TextDedup.fingerprint(Tables.documents(s, d), "doc_id", "text").orderBy(col("fp"))
    },

    QDef("dedup_minhash_lsh",
      ("""WITH words AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS w FROM documents),
        |sigs AS (SELECT doc_id, """ +
        (0 until 16).map(i => s"min(md5('$i|' || w)) AS s$i").mkString(", ") +
        """ FROM words GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(s0||s1||s2||s3) AS bkey FROM sigs
        |  UNION ALL SELECT doc_id, 1, md5(s4||s5||s6||s7) FROM sigs
        |  UNION ALL SELECT doc_id, 2, md5(s8||s9||s10||s11) FROM sigs
        |  UNION ALL SELECT doc_id, 3, md5(s12||s13||s14||s15) FROM sigs),
        |ok AS (SELECT band, bkey FROM bands GROUP BY band, bkey HAVING count(*) <= 64)
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |FROM bands a JOIN ok USING (band, bkey)
        |JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        |ORDER BY d1, d2""").stripMargin) { (s, d) =>
      TextDedup.lshCandidatePairs(Tables.documents(s, d), "doc_id", "text",
        numHashes = 16, rowsPerBand = 4, maxBucketSize = 64).orderBy(col("d1"), col("d2"))
    },

    // Ingestion-time incremental dedup: probe a NEW batch (doc_id % 10
    // = 0) against the already-indexed rest of the corpus through the
    // PERSISTED band index (persistedBandIndex — the train-once shape:
    // the 100 TB index side is stored at ingestion and never re-signed;
    // each batch signs only itself, TextDedup.lshProbeBands). Degenerate
    // index buckets past 64 docs are dropped (broadcast anti-join guard,
    // mirrored in the iok CTE). One row per new doc with its candidate
    // count and smallest matched index id.
    QDef("dedup_minhash_incremental",
      ("""WITH words AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS w FROM documents),
        |sigs AS (SELECT doc_id, """ +
        (0 until 16).map(i => s"min(md5('$i|' || w)) AS s$i").mkString(", ") +
        """ FROM words GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(s0||s1||s2||s3) AS bkey FROM sigs
        |  UNION ALL SELECT doc_id, 1, md5(s4||s5||s6||s7) FROM sigs
        |  UNION ALL SELECT doc_id, 2, md5(s8||s9||s10||s11) FROM sigs
        |  UNION ALL SELECT doc_id, 3, md5(s12||s13||s14||s15) FROM sigs),
        |iok AS (SELECT band, bkey FROM bands WHERE doc_id % 10 <> 0
        |        GROUP BY band, bkey HAVING count(*) <= 64),
        |cand AS (SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS dup_of
        |         FROM bands n JOIN bands i ON n.band = i.band AND n.bkey = i.bkey
        |         JOIN iok ON i.band = iok.band AND i.bkey = iok.bkey
        |         WHERE n.doc_id % 10 = 0 AND i.doc_id % 10 <> 0)
        |SELECT b.doc_id AS new_id, CAST(count(c.dup_of) AS BIGINT) AS n_cand,
        |       min(c.dup_of) AS dup_of
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) b
        |LEFT JOIN cand c ON b.doc_id = c.new_id
        |GROUP BY b.doc_id ORDER BY new_id""").stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextDedup.lshProbeBands(persistedBandIndex(s, d),
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
        .orderBy(col("new_id"))
    },

    // MinHash accuracy harness (the dedup counterpart of
    // ann_recall_eval): signature-agreement Jaccard ESTIMATE vs the
    // exact token Jaccard for every pair in a bounded slice, with the
    // absolute error — how you pick numHashes before trusting the LSH
    // dial. The md5-seeded signatures are engine-reproducible, so even
    // the estimates hash-match the oracle; est is an int/16 ratio and
    // exact an integer ratio, both exact doubles.
    QDef("dedup_minhash_est_eval",
      ("""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 120),
        |words AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS w FROM base),
        |sigs AS (SELECT doc_id, """ +
        (0 until 16).map(i => s"min(md5('$i|' || w)) AS s$i").mkString(", ") +
        """ FROM words GROUP BY doc_id),
        |sz AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |          FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
        |            (""" +
        (0 until 16).map(i => s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END").mkString(" + ") +
        """) / 16.0 AS est
        |          FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
        |SELECT p.d1, p.d2, round(p.est, 6) AS est,
        |  round(COALESCE(i.c * 1.0 / (x.n + y.n - i.c), 0.0), 6) AS exact,
        |  round(abs(p.est - COALESCE(i.c * 1.0 / (x.n + y.n - i.c), 0.0)), 6) AS abs_err
        |FROM pairs p LEFT JOIN inter i ON p.d1 = i.d1 AND p.d2 = i.d2
        |JOIN sz x ON p.d1 = x.doc_id JOIN sz y ON p.d2 = y.doc_id
        |ORDER BY p.d1, p.d2""").stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).filter(col("doc_id") < 120)
      val words = base.select(col("doc_id"),
        explode(TextDedup.tokens(col("text"))).as("w"))
      val sigs = graft.ext.BoundedCache.persist("pack.minhash_est_eval.sigs",
        TextDedup.minhashSignatures(base, "doc_id", "text", 16))
      val a = sigs.select(col("doc_id").as("d1") +:
        (0 until 16).map(i => col(s"s$i").as(s"a_s$i")): _*)
      val b = sigs.select(col("doc_id").as("d2") +:
        (0 until 16).map(i => col(s"s$i").as(s"b_s$i")): _*)
      val agree = (0 until 16)
        .map(i => when(col(s"a_s$i") === col(s"b_s$i"), 1).otherwise(0))
        .reduce(_ + _)
      val pairs = a.crossJoin(b).filter(col("d1") < col("d2"))
        .select(col("d1"), col("d2"), (agree / lit(16.0)).as("est"))
      val sz = words.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = words.select(col("doc_id").as("d1"), col("w"))
        .join(words.select(col("doc_id").as("d2"), col("w")), Seq("w"))
        .filter(col("d1") < col("d2"))
        .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("c"))
      val exact = coalesce(col("c") * 1.0 / (col("xn") + col("yn") - col("c")), lit(0.0))
      pairs
        .join(inter, Seq("d1", "d2"), "left")
        .join(broadcast(sz.select(col("doc_id").as("d1"), col("n").as("xn"))), Seq("d1"))
        .join(broadcast(sz.select(col("doc_id").as("d2"), col("n").as("yn"))), Seq("d2"))
        .select(col("d1"), col("d2"), round(col("est"), 6).as("est"),
          round(exact, 6).as("exact"),
          round(abs(col("est") - exact), 6).as("abs_err"))
        .orderBy(col("d1"), col("d2"))
    },

    // The df-cap (grams in > 1000 docs dropped before the inverted-index
    // self-join — no bucket reaches it on this slice, but the compared
    // semantics are the capped ones the engine ships) is mirrored in the
    // keep CTE: the stopgram guard that keeps a boilerplate shingle's
    // posting list from going quadratic.
    QDef("dedup_ngram_jaccard",
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS l FROM documents WHERE doc_id < 200),
        |t0 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, length(l)),
        |        i -> array_to_string(l[i:i+1], ' ')))) AS w FROM base),
        |keep AS (SELECT w FROM t0 GROUP BY w HAVING count(*) <= 1000),
        |t AS (SELECT doc_id, w FROM t0 WHERE w IN (SELECT w FROM keep)),
        |sz AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
        |sh AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |       FROM t a JOIN t b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT d1, d2, round(c*1.0/(s1.n + s2.n - c), 6) AS jaccard
        |FROM sh JOIN sz s1 ON sh.d1 = s1.doc_id JOIN sz s2 ON sh.d2 = s2.doc_id
        |WHERE c*1.0/(s1.n + s2.n - c) >= 0.35
        |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      TextDedup.jaccardPairs(Tables.documents(s, d).filter(col("doc_id") < 200),
        "doc_id", "text", 0.35, n = 2, maxDf = 1000).orderBy(col("d1"), col("d2"))
    },

    QDef("dedup_simhash",
      s"""WITH ${simhashCte("doc_id < 500")}
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextDedup.simhash(Tables.documents(s, d).filter(col("doc_id") < 500),
        "doc_id", "text").orderBy(col("doc_id"))
    },

    QDef("dedup_simhash_pairs",
      s"""WITH ${simhashCte("doc_id < 128")}
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS ham
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 16
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      TextDedup.simhashPairs(
        TextDedup.simhash(Tables.documents(s, d).filter(col("doc_id") < 128),
          "doc_id", "text"), 16)
        .orderBy(col("d1"), col("d2"))
    },

    // Banded-LSH form of the SimHash pair search over the WHOLE corpus
    // (no doc_id bound): candidates from an equi-join on (band, band
    // bits) — pigeonhole-complete for ham <= 12 with 13 bands — then the
    // exact Hamming filter. The oracle reproduces the BANDED search
    // including the degenerate-bucket cap (no bucket reaches 4096 docs
    // at fixture scale, so rows equal the quadratic form — but the
    // compared semantics are the capped ones the engine ships).
    QDef("dedup_simhash_banded",
      s"""WITH ${simhashCte("true")},
         |bands AS (
         |  SELECT doc_id, simhash, b AS band,
         |         (simhash >> CAST(b*63//13 AS INTEGER))
         |           & ((CAST(1 AS BIGINT) << CAST((b+1)*63//13 - b*63//13 AS INTEGER)) - 1) AS bits
         |  FROM sh, range(13) t(b)),
         |pruned AS (
         |  SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY band, bits) AS bn FROM bands)
         |  WHERE bn <= 4096),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         |         a.simhash AS s1, b.simhash AS s2
         |  FROM pruned a JOIN pruned b
         |    ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id)
         |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS ham
         |FROM cand WHERE bit_count(xor(s1, s2)) <= 12
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      TextDedup.simhashBandPairs(
        TextDedup.simhash(Tables.documents(s, d), "doc_id", "text"), 12)
        .orderBy(col("d1"), col("d2"))
    },

    // Dedup clustering: near-dup pairs → connected components → canonical
    // doc per cluster (the pass that turns pairwise LSH/SimHash output into
    // actual dedup decisions). Oracle: recursive transitive closure over
    // the same pair graph, min reachable id per vertex.
    QDef("dedup_cluster_cc",
      s"""WITH RECURSIVE ${simhashCte("doc_id < 128")},
         |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2
         |          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 12),
         |sym AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
         |reach(a, b) AS (SELECT doc_id, doc_id FROM sh
         |                UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
         |SELECT a AS doc_id, min(b) AS cluster_id, a = min(b) AS is_canonical
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 128)
      val pairs = TextDedup.simhashPairs(
        TextDedup.simhash(docs, "doc_id", "text"), 12).select(col("d1"), col("d2"))
      TextDedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
          (col("id") === col("label")).as("is_canonical"))
        .orderBy(col("doc_id"))
    },

    // Same clustering through the large-star/small-star alternation
    // (Kiveris et al.) — O(log² n) rounds instead of O(diameter), the
    // variant for adversarially deep pair graphs. Identical contract and
    // oracle as dedup_cluster_cc; the two declared forms pin that both
    // algorithms agree on real near-dup graphs (the ScalaCheck
    // union-find property covers random ones).
    QDef("dedup_cluster_cc_star",
      s"""WITH RECURSIVE ${simhashCte("doc_id < 128")},
         |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2
         |          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 12),
         |sym AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
         |reach(a, b) AS (SELECT doc_id, doc_id FROM sh
         |                UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
         |SELECT a AS doc_id, min(b) AS cluster_id, a = min(b) AS is_canonical
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 128)
      val pairs = TextDedup.simhashPairs(
        TextDedup.simhash(docs, "doc_id", "text"), 12).select(col("d1"), col("d2"))
      TextDedup.connectedComponentsStar(docs.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
          (col("id") === col("label")).as("is_canonical"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------ similarity search

    QDef("ann_cosine_topk",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT q.qid, e.vec_id AS nid, round(${cosSql("q.qe", "e.embedding")}, 6) AS cos
         |      FROM q, embeddings e WHERE e.vec_id <> q.qid),
         |r AS (SELECT qid, nid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
         |      FROM c)
         |SELECT qid, nid, cos, rank FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.bruteTopK(e, e.filter(col("vec_id") < 10), 5)
        .orderBy(col("qid"), col("rank"))
    },

    // Hybrid retrieval with reciprocal-rank fusion — the standard
    // lexical+vector combiner (score = Σ 1/(60+rank) over both rank
    // lists, k=60 per the original RRF paper): token-set Jaccard ranks
    // from an inverted-index join fused with brute cosine ranks over the
    // aligned embedding rows. Exactness: both rank lists use integer
    // ranks under (rounded-score DESC, nid) order, so 1/(60+r) sums are
    // bit-identical across engines. Scale: the lexical side is the
    // tfidf/jaccard inverted-index shape (never all-pairs), the vector
    // side broadcasts only the query block; fusion is a (qid, nid)
    // equi-join of two top-20 lists — tiny by construction.
    QDef("retrieval_hybrid_rrf",
      s"""WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS w
         |              FROM documents WHERE doc_id < 500),
         |sz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
         |inter AS (SELECT q.doc_id AS qid, c.doc_id AS nid, count(*) AS inter
         |          FROM toks q JOIN toks c ON q.w = c.w AND q.doc_id < 8 AND c.doc_id >= 8
         |          GROUP BY 1, 2),
         |lex AS (SELECT qid, nid, inter * 1.0 / (x.n + y.n - inter) AS jac
         |        FROM inter JOIN sz x ON qid = x.doc_id JOIN sz y ON nid = y.doc_id),
         |lr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY jac DESC, nid) AS lr FROM lex),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
         |cc AS (SELECT q.qid, e.vec_id AS nid, round(${cosSql("q.qe", "e.embedding")}, 6) AS cos
         |       FROM q, embeddings e WHERE e.vec_id >= 8 AND e.vec_id < 500),
         |vr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS vr FROM cc),
         |f AS (SELECT coalesce(l.qid, v.qid) AS qid, coalesce(l.nid, v.nid) AS nid,
         |        coalesce(1.0/(60+l.lr), 0) + coalesce(1.0/(60+v.vr), 0) AS score
         |      FROM (SELECT * FROM lr WHERE lr <= 20) l
         |      FULL JOIN (SELECT * FROM vr WHERE vr <= 20) v
         |        ON l.qid = v.qid AND l.nid = v.nid)
         |SELECT qid, nid, round(score, 6) AS rrf,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS INTEGER) AS rank
         |FROM f QUALIFY rank <= 10 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = toks.filter(col("doc_id") < 8).select(col("doc_id").as("qid"), col("w"))
        .join(toks.filter(col("doc_id") >= 8).select(col("doc_id").as("nid"), col("w")), Seq("w"))
        .groupBy(col("qid"), col("nid")).agg(count(lit(1)).as("inter"))
      val lex = inter
        .join(broadcast(sizes.select(col("doc_id").as("qid"), col("n").as("nq"))), Seq("qid"))
        .join(sizes.select(col("doc_id").as("nid"), col("n").as("nc")), Seq("nid"))
        .select(col("qid"), col("nid"),
          (col("inter") * lit(1.0) / (col("nq") + col("nc") - col("inter"))).as("jac"))
      val lexTop = lex.withColumn("lr", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("jac").desc, col("nid"))))
        .filter(col("lr") <= 20).select(col("qid"), col("nid"), col("lr"))
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      val vecTop = Similarity.bruteTopK(
          e.filter(col("vec_id") >= 8), e.filter(col("vec_id") < 8), 20)
        .select(col("qid"), col("nid"), col("rank").as("vr"))
      lexTop.join(vecTop, Seq("qid", "nid"), "full_outer")
        .select(col("qid"), col("nid"),
          (coalesce(lit(1.0) / (lit(60) + col("lr")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("vr")), lit(0.0))).as("score"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("nid"), round(col("score"), 6).as("rrf"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },

    // Single-probe IVF served from the PERSISTED coarse quantizer: the
    // query's bucket is the argmax-dot stored centroid (nprobe=1), not a
    // given assignment — the production shape: train once (Warehouse
    // table), serve every query from the stored table. The label-bucket
    // assignment-given form remains as Similarity.ivfTopK (ground-truth
    // harness, ann_recall_eval).
    QDef("ann_ivf_topk",
      s"""WITH cents AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |               FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cvec AS (SELECT label AS pb, list(mean ORDER BY i) AS cv FROM cents GROUP BY label),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |qs AS (SELECT qid, pb, row_number() OVER (PARTITION BY qid ORDER BY
         |         round(list_reduce(list_transform(range(1, 65),
         |           i -> CAST(qe[i] AS DOUBLE) * cv[i]), (a,b) -> a+b), 6) DESC, pb) AS pr
         |       FROM q, cvec),
         |probe AS (SELECT qid, pb FROM qs WHERE pr <= 1),
         |c AS (SELECT q.qid, e.vec_id AS nid, round(${cosSql("q.qe", "e.embedding")}, 6) AS cos
         |      FROM q JOIN probe USING (qid)
         |      JOIN embeddings e ON e.label = probe.pb AND e.vec_id <> q.qid),
         |r AS (SELECT qid, nid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
         |      FROM c)
         |SELECT qid, nid, cos, rank FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.ivfMultiProbeTopK(e, e.filter(col("vec_id") < 20),
          persistedCentroids(s, d), "label", k = 3, nprobe = 1)
        .orderBy(col("qid"), col("rank"))
    },

    // Multi-probe IVF: queries probe their top-2 centroid buckets before
    // the exact rerank — the recall/cost dial between single-probe IVF
    // and brute force. Probe selection ranks 6dp-rounded centroid dots
    // (reproducible cross-engine), candidates stay a bucket equi-join.
    // Centroids come from the SAME persisted Warehouse table as
    // ann_ivf_topk (train once, reuse).
    QDef("ann_ivf_multiprobe",
      s"""WITH cents AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |               FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cvec AS (SELECT label AS pb, list(mean ORDER BY i) AS cv FROM cents GROUP BY label),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |qs AS (SELECT qid, pb, row_number() OVER (PARTITION BY qid ORDER BY
         |         round(list_reduce(list_transform(range(1, 65),
         |           i -> CAST(qe[i] AS DOUBLE) * cv[i]), (a,b) -> a+b), 6) DESC, pb) AS pr
         |       FROM q, cvec),
         |probe AS (SELECT qid, pb FROM qs WHERE pr <= 2),
         |c AS (SELECT q.qid, e.vec_id AS nid, round(${cosSql("q.qe", "e.embedding")}, 6) AS cos
         |      FROM q JOIN probe USING (qid)
         |      JOIN embeddings e ON e.label = probe.pb AND e.vec_id <> q.qid),
         |r AS (SELECT qid, nid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
         |      FROM c)
         |SELECT qid, nid, cos, rank FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.ivfMultiProbeTopK(e, e.filter(col("vec_id") < 20),
          persistedCentroids(s, d), "label", k = 3, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    },

    // Incremental IVF serving — the ANN counterpart of
    // dedup_minhash_incremental: an ARRIVING batch (vec_id % 10 = 0) is
    // assigned + searched against the EXISTING corpus through the
    // train-once persisted quantizer; the corpus is never re-scanned for
    // training and the batch side is the only new work. At 100 TB this
    // is the ingestion-time "find my neighbors before admit" shape —
    // batch cost tracks arrivals, quantizer is a stored table.
    QDef("ann_ivf_incremental",
      s"""WITH cents AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |               FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cvec AS (SELECT label AS pb, list(mean ORDER BY i) AS cv FROM cents GROUP BY label),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 10 = 0),
         |qs AS (SELECT qid, pb, row_number() OVER (PARTITION BY qid ORDER BY
         |         round(list_reduce(list_transform(range(1, 65),
         |           i -> CAST(qe[i] AS DOUBLE) * cv[i]), (a,b) -> a+b), 6) DESC, pb) AS pr
         |       FROM q, cvec),
         |probe AS (SELECT qid, pb FROM qs WHERE pr <= 1),
         |c AS (SELECT q.qid, e.vec_id AS nid, round(${cosSql("q.qe", "e.embedding")}, 6) AS cos
         |      FROM q JOIN probe USING (qid)
         |      JOIN embeddings e ON e.label = probe.pb AND e.vec_id % 10 <> 0),
         |r AS (SELECT qid, nid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
         |      FROM c)
         |SELECT qid, nid, cos, rank FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.ivfMultiProbeTopK(e.filter(col("vec_id") % 10 =!= 0),
          e.filter(col("vec_id") % 10 === 0),
          persistedCentroids(s, d), "label", k = 3, nprobe = 1)
        .orderBy(col("qid"), col("rank"))
    },

    // Quantizer-drift monitor (VERDICT r15 #7) — the re-train trigger for
    // the train-once persisted IVF quantizer: per bucket, the training
    // population's mean squared distance to its stored centroid (frozen
    // reference error) vs the same metric for the arrival batch
    // (vec_id % 10 = 0, the ann_ivf_incremental slice) under the SERVING
    // assignment rule. retrain fires when the ratio exceeds 1.1 — the
    // staleness dial an ingestion pipeline checks before trusting the
    // stored index with a new corpus vintage.
    QDef("ann_ivf_drift_eval",
      s"""WITH cents AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |               FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cvec AS (SELECT label AS pb, list(mean ORDER BY i) AS cv FROM cents GROUP BY label),
         |tr AS (SELECT e.vec_id, e.label AS b,
         |         sum(CAST(floor((CAST(e.embedding[t.i] AS DOUBLE) - c.mean)
         |                        * (CAST(e.embedding[t.i] AS DOUBLE) - c.mean) * 1e12 + 0.5) / 1e12
         |                  AS DECIMAL(28,12))) AS dist
         |       FROM embeddings e, range(1, 65) t(i)
         |       JOIN cents c ON c.i = t.i AND c.label = e.label
         |       WHERE e.embedding IS NOT NULL
         |       GROUP BY e.vec_id, e.label),
         |base AS (SELECT b, count(*) AS n_train,
         |           round(CAST(sum(dist) AS DOUBLE) / count(*), 6) AS base_dist
         |         FROM tr GROUP BY b),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |     WHERE vec_id % 10 = 0 AND embedding IS NOT NULL),
         |qs AS (SELECT qid, pb, row_number() OVER (PARTITION BY qid ORDER BY
         |         round(list_reduce(list_transform(range(1, 65),
         |           i -> CAST(qe[i] AS DOUBLE) * cv[i]), (a,b) -> a+b), 6) DESC, pb) AS pr
         |       FROM q, cvec),
         |asg AS (SELECT qid, pb FROM qs WHERE pr = 1),
         |cur0 AS (SELECT e.vec_id, a.pb AS b,
         |          sum(CAST(floor((CAST(e.embedding[t.i] AS DOUBLE) - c.mean)
         |                         * (CAST(e.embedding[t.i] AS DOUBLE) - c.mean) * 1e12 + 0.5) / 1e12
         |                   AS DECIMAL(28,12))) AS dist
         |        FROM embeddings e JOIN asg a ON a.qid = e.vec_id, range(1, 65) t(i)
         |        JOIN cents c ON c.i = t.i AND c.label = a.pb
         |        GROUP BY e.vec_id, a.pb),
         |cur AS (SELECT b, count(*) AS n_cur,
         |          round(CAST(sum(dist) AS DOUBLE) / count(*), 6) AS cur_dist
         |        FROM cur0 GROUP BY b)
         |SELECT coalesce(base.b, cur.b) AS label,
         |  coalesce(base.n_train, 0) AS n_train, base.base_dist,
         |  coalesce(cur.n_cur, 0) AS n_cur, cur.cur_dist,
         |  round(CASE WHEN base.base_dist > 0 THEN cur.cur_dist / base.base_dist END, 6) AS drift_ratio,
         |  coalesce(CASE WHEN base.base_dist > 0 THEN cur.cur_dist / base.base_dist > 1.1 END,
         |           cur.cur_dist > 0, false) AS retrain
         |FROM base FULL OUTER JOIN cur ON cur.b = base.b
         |ORDER BY label""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.quantizerDrift(e, e.filter(col("vec_id") % 10 === 0),
          persistedCentroids(s, d), "label", threshold = 1.1)
        .orderBy(col("label"))
    },

    // The APPLY half of the drift→retrain loop (pairs with
    // ann_ivf_drift_eval): the arrival batch scored under the STALE
    // quantizer (trained before the arrivals — vec_id % 10 <> 0) vs the
    // RETRAINED full-corpus quantizer (the SAME persisted table the
    // serving queries use — retraining IS re-deriving that table), each
    // under its own serving assignment. The before/after per-bucket
    // distances are the evidence an operator reads before swapping the
    // retrained index in.
    QDef("ann_ivf_retrain_eval",
      s"""WITH co AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |            FROM embeddings, range(1, 65) t(i) WHERE vec_id % 10 <> 0
         |            GROUP BY label, i),
         |cn AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |       FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cvo AS (SELECT label AS pb, list(mean ORDER BY i) AS cv FROM co GROUP BY label),
         |cvn AS (SELECT label AS pb, list(mean ORDER BY i) AS cv FROM cn GROUP BY label),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |     WHERE vec_id % 10 = 0 AND embedding IS NOT NULL),
         |aso AS (SELECT qid, pb FROM (
         |        SELECT qid, pb, row_number() OVER (PARTITION BY qid ORDER BY
         |          round(list_reduce(list_transform(range(1, 65),
         |            i -> CAST(qe[i] AS DOUBLE) * cv[i]), (a,b) -> a+b), 6) DESC, pb) AS pr
         |        FROM q, cvo) WHERE pr = 1),
         |asn AS (SELECT qid, pb FROM (
         |        SELECT qid, pb, row_number() OVER (PARTITION BY qid ORDER BY
         |          round(list_reduce(list_transform(range(1, 65),
         |            i -> CAST(qe[i] AS DOUBLE) * cv[i]), (a,b) -> a+b), 6) DESC, pb) AS pr
         |        FROM q, cvn) WHERE pr = 1),
         |vo AS (SELECT a.pb AS b, e.vec_id,
         |         sum(CAST(floor((CAST(e.embedding[t.i] AS DOUBLE) - c.mean)
         |                        * (CAST(e.embedding[t.i] AS DOUBLE) - c.mean) * 1e12 + 0.5) / 1e12
         |                  AS DECIMAL(28,12))) AS dist
         |       FROM embeddings e JOIN aso a ON a.qid = e.vec_id, range(1, 65) t(i)
         |       JOIN co c ON c.i = t.i AND c.label = a.pb
         |       GROUP BY a.pb, e.vec_id),
         |vn AS (SELECT a.pb AS b, e.vec_id,
         |         sum(CAST(floor((CAST(e.embedding[t.i] AS DOUBLE) - c.mean)
         |                        * (CAST(e.embedding[t.i] AS DOUBLE) - c.mean) * 1e12 + 0.5) / 1e12
         |                  AS DECIMAL(28,12))) AS dist
         |       FROM embeddings e JOIN asn a ON a.qid = e.vec_id, range(1, 65) t(i)
         |       JOIN cn c ON c.i = t.i AND c.label = a.pb
         |       GROUP BY a.pb, e.vec_id),
         |ro AS (SELECT b, count(*) AS n_old,
         |         round(CAST(sum(dist) AS DOUBLE) / count(*), 6) AS dist_old
         |       FROM vo GROUP BY b),
         |rn AS (SELECT b, count(*) AS n_new,
         |         round(CAST(sum(dist) AS DOUBLE) / count(*), 6) AS dist_new
         |       FROM vn GROUP BY b)
         |SELECT coalesce(ro.b, rn.b) AS label,
         |  coalesce(ro.n_old, 0) AS n_old, ro.dist_old,
         |  coalesce(rn.n_new, 0) AS n_new, rn.dist_new,
         |  round(rn.dist_new - ro.dist_old, 6) AS delta
         |FROM ro FULL OUTER JOIN rn ON rn.b = ro.b
         |ORDER BY label""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.retrainEval(e.filter(col("vec_id") % 10 === 0),
          Similarity.centroids(e.filter(col("vec_id") % 10 =!= 0), "label"),
          persistedCentroids(s, d), "label")
        .orderBy(col("label"))
    },

    // Atomic quantizer SWAP — the promotion step that closes the
    // drift→retrain loop (ann_ivf_drift_eval flags staleness,
    // ann_ivf_retrain_eval scores the replacement; nothing promoted it
    // until now): the STALE quantizer (trained before the vec_id % 10 = 0
    // arrivals) commits as version 1 of a transactional graft-atomic
    // table, the RETRAINED full-corpus quantizer then commits as version
    // 2 — the sink's manifest-pointer flip IS the promotion: readers
    // planned before it finish on the v1 snapshot, readers planned after
    // it serve the retrained index, and v1 stays time-travel-readable
    // (`option("version", 1)`) for audit/rollback until expireVersions.
    // The declared result serves the SAME query set through BOTH: the
    // current table must answer with the retrained quantizer and version
    // 1 with the stale one — a swap that leaked either way (append
    // instead of truncate, pointer off by one) hash-fails. At 100 TB the
    // centroid table is KB-sized either version; the swap cost is two
    // manifest renames, never a corpus touch.
    QDef("ann_ivf_swap_serve", {
      s"""WITH cn AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |            FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |co AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |       FROM embeddings, range(1, 65) t(i) WHERE vec_id % 10 <> 0
         |       GROUP BY label, i),
         |cvn AS (SELECT label AS pb, list(mean ORDER BY i) AS cv FROM cn GROUP BY label),
         |cvo AS (SELECT label AS pb, list(mean ORDER BY i) AS cv FROM co GROUP BY label),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |${ivfServeCtes("n", "cvn")},
         |${ivfServeCtes("o", "cvo")}
         |SELECT 'retrained' AS quantizer, qid, nid, cos, rank FROM rn WHERE rank <= 3
         |UNION ALL
         |SELECT 'stale' AS quantizer, qid, nid, cos, rank FROM ro WHERE rank <= 3
         |ORDER BY quantizer, qid, rank""".stripMargin
    }) { (s, d) =>
      val loc = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}/ann_swap"
      graft.io.Warehouse.deleteRecursively(s, loc)
      val e = Tables.embeddings(s, d)
      val retrained = Similarity.centroids(e, "label")
      // version 1: the quantizer trained before the arrival slice existed
      Similarity.centroids(e.filter(col("vec_id") % 10 =!= 0), "label")
        .write.format("graft-atomic").option("path", loc).mode("overwrite").save()
      // the SWAP: retrained quantizer commits as version 2 (truncate —
      // promotion REPLACES the serving table, it doesn't append to it)
      retrained.write.format("graft-atomic").option("path", loc)
        .mode("overwrite").save()
      val vs = graft.sources.AtomicSink.versions(loc)
      require(vs.size == 2,
        s"swap must retain exactly the stale and retrained versions, got $vs")
      val cur = s.read.schema(retrained.schema).format("graft-atomic").load(loc)
      val old = s.read.schema(retrained.schema).format("graft-atomic")
        .option("version", vs.min).load(loc)
      val q = e.filter(col("vec_id") < 20)
      Similarity.ivfMultiProbeTopK(e, q, cur, "label", k = 3, nprobe = 1)
        .withColumn("quantizer", lit("retrained"))
        .unionByName(
          Similarity.ivfMultiProbeTopK(e, q, old, "label", k = 3, nprobe = 1)
            .withColumn("quantizer", lit("stale")))
        .select(col("quantizer"), col("qid"), col("nid"), col("cos"), col("rank"))
        .orderBy(col("quantizer"), col("qid"), col("rank"))
    },

    // Quantizer RETENTION lifecycle — the step after the swap: once the
    // retrained index has served long enough that no reader can still
    // hold the v1 snapshot, the operator RETIRES it (expireVersions) and
    // reclaims its storage (vacuum). The declared result pins the whole
    // lifecycle around an unchanged serving surface: the current-table
    // serve must be identical before and after retirement (retention is
    // metadata-only for the live version), exactly one version expires
    // (2 → 1 retained), the expired snapshot is no longer readable, and
    // vacuum reclaimed at least one physical file (v1's data files were
    // orphaned by the truncate swap, retained only by its snapshot
    // manifest). At 100 TB this is the storage-cost half of index
    // versioning: without expire+vacuum every retrain doubles the stored
    // quantizer footprint forever.
    QDef("ann_ivf_swap_expire", {
      s"""WITH cn AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |            FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cvn AS (SELECT label AS pb, list(mean ORDER BY i) AS cv FROM cn GROUP BY label),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |${ivfServeCtes("n", "cvn")}
         |SELECT qid, nid, cos, rank,
         |  CAST(2 AS INTEGER) AS n_versions_before,
         |  CAST(1 AS INTEGER) AS n_versions_after,
         |  CAST(1 AS INTEGER) AS n_expired,
         |  false AS v1_readable,
         |  true AS vacuum_reclaimed
         |FROM rn WHERE rank <= 3
         |ORDER BY qid, rank""".stripMargin
    }) { (s, d) =>
      val loc = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}/ann_swap_exp"
      graft.io.Warehouse.deleteRecursively(s, loc)
      val e = Tables.embeddings(s, d)
      val retrained = Similarity.centroids(e, "label")
      // the swap (as ann_ivf_swap_serve): v1 stale, v2 retrained
      Similarity.centroids(e.filter(col("vec_id") % 10 =!= 0), "label")
        .write.format("graft-atomic").option("path", loc).mode("overwrite").save()
      retrained.write.format("graft-atomic").option("path", loc)
        .mode("overwrite").save()
      val before = graft.sources.AtomicSink.versions(loc).size
      // retirement: keep only the serving version, then physical cleanup
      val expired = graft.sources.AtomicSink.expireVersions(loc, keepLast = 1)
      val reclaimed = graft.sources.AtomicSink.vacuum(loc)
      val after = graft.sources.AtomicSink.versions(loc).size
      val v1Readable =
        try {
          s.read.schema(retrained.schema).format("graft-atomic")
            .option("version", expired.head).load(loc).count()
          true
        } catch { case scala.util.control.NonFatal(_) => false }
      val cur = s.read.schema(retrained.schema).format("graft-atomic").load(loc)
      Similarity.ivfMultiProbeTopK(e, e.filter(col("vec_id") < 20), cur,
          "label", k = 3, nprobe = 1)
        .select(col("qid"), col("nid"), col("cos"), col("rank"),
          lit(before).as("n_versions_before"),
          lit(after).as("n_versions_after"),
          lit(expired.size).as("n_expired"),
          lit(v1Readable).as("v1_readable"),
          lit(reclaimed > 0).as("vacuum_reclaimed"))
        .orderBy(col("qid"), col("rank"))
    },

    // INDEX-MAINTENANCE E2E (VERDICT r16 task 6) — the whole lifecycle
    // the four pieces prove individually (ann_ivf_drift_eval →
    // ann_ivf_retrain_eval → ann_ivf_swap_serve → ann_ivf_swap_expire),
    // run as ONE program so the COMPOSITION is pinned: the drift monitor
    // reads the serving artifact back from the versioned table and flags
    // staleness (threshold 1.0 — the fixture's drift is real but mild);
    // TWO retrain candidates then face the promotion gate in order
    // against whatever is currently serving — a MIS-SPECIFIED candidate
    // (quantizer trained on the wrong bucketing column, vec_id % 3: the
    // believable pipeline bug) and the true full-corpus retrain. The
    // gate is total arrival quantization error as an exact DECIMAL sum
    // of 6dp bucket means — engine-invariant, so the oracle re-derives
    // every decision from the data: the bad candidate must LOSE and NOT
    // swap (versions unchanged), the good one must win, promote via
    // truncate-swap, and retention must expire+vacuum exactly the
    // superseded snapshots. A gate that promotes a losing candidate, a
    // swap that fires without drift, or retention that counts wrong all
    // hash-fail. The declared rows serve the 20-query set through the
    // FINAL serving table plus every decision and lifecycle fact.
    QDef("pipeline_ann_maintenance_e2e", {
      s"""WITH co AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |            FROM embeddings, range(1, 65) t(i) WHERE vec_id % 10 <> 0
         |            GROUP BY label, i),
         |cn AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |       FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cb AS (SELECT CAST(vec_id % 3 AS INTEGER) AS label, i,
         |         round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |       FROM embeddings, range(1, 65) t(i) GROUP BY 1, i),
         |cvo AS (SELECT label AS pb, list(mean ORDER BY i) AS cv FROM co GROUP BY label),
         |cvn AS (SELECT label AS pb, list(mean ORDER BY i) AS cv FROM cn GROUP BY label),
         |cvb AS (SELECT label AS pb, list(mean ORDER BY i) AS cv FROM cb GROUP BY label),
         |qa AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |      WHERE vec_id % 10 = 0 AND embedding IS NOT NULL),
         |${quantErrCtes("o", "co", "cvo")},
         |${quantErrCtes("b", "cb", "cvb")},
         |${quantErrCtes("n", "cn", "cvn")},
         |vdt AS (SELECT e.label AS b, e.vec_id,
         |          sum(CAST(floor((CAST(e.embedding[t.i] AS DOUBLE) - c.mean)
         |                         * (CAST(e.embedding[t.i] AS DOUBLE) - c.mean) * 1e12 + 0.5) / 1e12
         |                   AS DECIMAL(28,12))) AS dist
         |        FROM embeddings e, range(1, 65) t(i)
         |        JOIN co c ON c.i = t.i AND c.label = e.label
         |        WHERE e.vec_id % 10 <> 0 AND e.embedding IS NOT NULL
         |        GROUP BY e.label, e.vec_id),
         |base AS (SELECT b, round(CAST(sum(dist) AS DOUBLE) / count(*), 6) AS d
         |         FROM vdt GROUP BY b),
         |drift AS (SELECT coalesce(bool_or(
         |            coalesce(CASE WHEN base.d > 0 THEN cur.d / base.d > 1.0 END,
         |                     cur.d > 0, false)), false) AS flagged
         |          FROM base FULL OUTER JOIN bto cur ON cur.b = base.b),
         |dec AS (SELECT d.flagged AS drift_flagged,
         |          (SELECT err FROM totb) < (SELECT err FROM toto) AS bad_won,
         |          d.flagged AND (SELECT err FROM totb) < (SELECT err FROM toto) AS bad_promoted
         |        FROM drift d),
         |dec2 AS (SELECT dec.*,
         |           (SELECT err FROM totn) <
         |             (CASE WHEN bad_promoted THEN (SELECT err FROM totb)
         |                   ELSE (SELECT err FROM toto) END) AS good_won
         |         FROM dec),
         |dec3 AS (SELECT dec2.*, drift_flagged AND good_won AS good_promoted FROM dec2),
         |cvf AS (SELECT * FROM cvn WHERE (SELECT good_promoted FROM dec3)
         |        UNION ALL
         |        SELECT * FROM cvb WHERE (SELECT bad_promoted AND NOT good_promoted FROM dec3)
         |        UNION ALL
         |        SELECT * FROM cvo WHERE (SELECT NOT bad_promoted AND NOT good_promoted FROM dec3)),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |${ivfServeCtes("f", "cvf")}
         |SELECT qid, nid, cos, rank,
         |  (SELECT drift_flagged FROM dec3) AS drift_flagged,
         |  (SELECT bad_won FROM dec3) AS bad_won,
         |  (SELECT good_won FROM dec3) AS good_won,
         |  (SELECT bad_promoted FROM dec3) AS bad_promoted,
         |  (SELECT good_promoted FROM dec3) AS good_promoted,
         |  CAST(1 + (SELECT CAST(bad_promoted AS INT) + CAST(good_promoted AS INT) FROM dec3)
         |       AS INTEGER) AS n_versions_before_expire,
         |  CAST((SELECT CAST(bad_promoted AS INT) + CAST(good_promoted AS INT) FROM dec3)
         |       AS INTEGER) AS n_expired,
         |  (SELECT bad_promoted OR good_promoted FROM dec3) AS vacuum_reclaimed,
         |  CAST(1 AS INTEGER) AS n_versions_after
         |FROM rf WHERE rank <= 3
         |ORDER BY qid, rank""".stripMargin
    }) { (s, d) =>
      val loc = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}/ann_maint"
      graft.io.Warehouse.deleteRecursively(s, loc)
      val e = Tables.embeddings(s, d)
      val arrivals = e.filter(col("vec_id") % 10 === 0)
      val trainPop = e.filter(col("vec_id") % 10 =!= 0)
      val stale = Similarity.centroids(trainPop, "label")
      stale.write.format("graft-atomic").option("path", loc).mode("overwrite").save()
      val schema = stale.schema
      def serving() = s.read.schema(schema).format("graft-atomic").load(loc)
      // 1. DRIFT — monitored against the serving artifact READ BACK from
      // the versioned table (the artifact serving uses, not a recompute)
      val driftFlagged = Similarity.quantizerDrift(trainPop, arrivals,
          serving(), "label", threshold = 1.0)
        .filter(col("retrain")).limit(1).count() > 0
      // 2. the promotion gate: each candidate evaluated against whatever
      // is CURRENTLY serving; exact-decimal total arrival quantization
      // error decides; a win under a flagged drift promotes via
      // truncate-swap. One decision row crosses the driver per candidate
      // (trained-artifact grain).
      def gate(candidate: org.apache.spark.sql.DataFrame): (Boolean, Boolean) = {
        val t = Similarity.retrainEval(arrivals, serving(), candidate, "label")
          .agg(sum(col("dist_new").cast("decimal(18,6)") * col("n_new")).as("en"),
            sum(col("dist_old").cast("decimal(18,6)") * col("n_old")).as("eo"))
          .head()
        val won = t.getDecimal(0).compareTo(t.getDecimal(1)) < 0
        val promoted = driftFlagged && won
        if (promoted) candidate.write.format("graft-atomic").option("path", loc)
          .mode("overwrite").save()
        (won, promoted)
      }
      val badCand = Similarity.centroids(
        e.select((col("vec_id") % 3).cast("int").as("label"),
          col("vec_id"), col("embedding")), "label")
      val goodCand = Similarity.centroids(e, "label")
      val (badWon, badPromoted) = gate(badCand)
      val (goodWon, goodPromoted) = gate(goodCand)
      // 3. retention: keep only the serving version, reclaim the rest
      val before = graft.sources.AtomicSink.versions(loc).size
      val expired = graft.sources.AtomicSink.expireVersions(loc, keepLast = 1)
      val reclaimed = graft.sources.AtomicSink.vacuum(loc)
      val after = graft.sources.AtomicSink.versions(loc).size
      Similarity.ivfMultiProbeTopK(e, e.filter(col("vec_id") < 20),
          serving(), "label", k = 3, nprobe = 1)
        .select(col("qid"), col("nid"), col("cos"), col("rank"),
          lit(driftFlagged).as("drift_flagged"),
          lit(badWon).as("bad_won"), lit(goodWon).as("good_won"),
          lit(badPromoted).as("bad_promoted"), lit(goodPromoted).as("good_promoted"),
          lit(before).as("n_versions_before_expire"),
          lit(expired.size).as("n_expired"),
          lit(reclaimed > 0).as("vacuum_reclaimed"),
          lit(after).as("n_versions_after"))
        .orderBy(col("qid"), col("rank"))
    },

    // LSH-bucketed ANN: sign-bit buckets from data-derived random
    // hyperplanes (first 4 corpus vectors; the corpus is zero-mean so each
    // splits it ~in half), exact rerank inside the query's bucket. The
    // training-free counterpart to IVF: no centroid pass, 2^planes buckets,
    // corpus side never shuffles. Sign tests are bit-exact cross-engine
    // (identical sequential IEEE folds), so bucketing is reproducible.
    QDef("ann_lsh_topk",
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings WHERE vec_id < 4),
         |b AS (SELECT e.vec_id, e.embedding,
         |        sum(CASE WHEN ${dotSql("e.embedding", "p.pe")} >= 0
         |            THEN CAST(power(2, pid) AS BIGINT) ELSE 0 END) AS bucket
         |      FROM embeddings e, p GROUP BY e.vec_id, e.embedding),
         |q AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qb FROM b WHERE vec_id < 20),
         |c AS (SELECT q.qid, b.vec_id AS nid, round(${cosSql("q.qe", "b.embedding")}, 6) AS cos
         |      FROM q JOIN b ON b.bucket = q.qb AND b.vec_id <> q.qid),
         |r AS (SELECT qid, nid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
         |      FROM c)
         |SELECT qid, nid, cos, rank FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), col("vec_id") < 20, numPlanes = 4, k = 3)
        .orderBy(col("qid"), col("rank"))
    },

    // Matryoshka-truncated retrieval (Kusupati et al. 2022): rank on the
    // embedding PREFIX (first 16 of 64 dims) — the memory/latency dial a
    // production index tunes before falling back to full-dim rerank.
    // Same brute top-k plan over 4× narrower vectors; prefix slicing is
    // row-local (slice(), no shuffle).
    QDef("ann_matryoshka_topk",
      s"""WITH m AS (SELECT vec_id, embedding[1:16] AS te FROM embeddings),
         |q AS (SELECT vec_id AS qid, te AS qe FROM m WHERE vec_id < 20),
         |c AS (SELECT q.qid, m.vec_id AS nid, round(${cosSql("q.qe", "m.te")}, 6) AS cos
         |      FROM q, m WHERE m.vec_id <> q.qid),
         |r AS (SELECT qid, nid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
         |      FROM c)
         |SELECT qid, nid, cos, rank FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .withColumn("embedding", slice(col("embedding"), 1, 16))
      Similarity.bruteTopK(e, e.filter(col("vec_id") < 20), 3)
        .orderBy(col("qid"), col("rank"))
    },

    // SemDeDup (Abbas et al. 2023): keep-first semantic dedup inside
    // coarse buckets — the embedding-space counterpart of the
    // MinHash/SimHash near-dup passes. Buckets come from the PERSISTED
    // coarse quantizer (the same Warehouse centroid table the IVF ANN
    // queries serve from — one trained quantizer drives both retrieval
    // and dedup); assignment is the stored-probe rule (6dp-rounded dot,
    // smallest-bucket tiebreak). Bucket-confined self-join (Σ|bucket|²,
    // no cross product among vectors); cosine folds are bit-identical
    // cross-engine so the threshold compare needs no rounding.
    QDef("dedup_semantic_keep",
      s"""WITH cents AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |               FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cvec AS (SELECT label AS cb, list(mean ORDER BY i) AS cv FROM cents GROUP BY label),
         |asg AS (SELECT vec_id, embedding, cb AS bucket FROM (
         |          SELECT e.vec_id, e.embedding, c.cb,
         |                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |                   round(list_reduce(list_transform(range(1, 65),
         |                     i -> CAST(e.embedding[i] AS DOUBLE) * c.cv[i]), (a,b) -> a+b), 6) DESC,
         |                   c.cb) AS rn
         |          FROM embeddings e, cvec c) WHERE rn = 1),
         |d AS (SELECT DISTINCT a.vec_id FROM asg a JOIN asg b
         |        ON a.bucket = b.bucket AND b.vec_id < a.vec_id
         |      WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.30)
         |SELECT a.vec_id, a.bucket, d.vec_id IS NULL AS kept
         |FROM asg a LEFT JOIN d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin) { (s, d) =>
      Similarity.semanticDedupStored(Tables.embeddings(s, d),
          persistedCentroids(s, d), "label", 0.30)
        .orderBy(col("vec_id"))
    },

    // embedding near-dup detection = top-1 neighbor + threshold flag
    QDef("dedup_embed_cosine",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 100),
         |c AS (SELECT q.qid, e.vec_id AS nid, round(${cosSql("q.qe", "e.embedding")}, 6) AS cos
         |      FROM q, embeddings e WHERE e.vec_id <> q.qid),
         |r AS (SELECT qid, nid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
         |      FROM c)
         |SELECT qid, nid, cos, cos >= 0.9 AS is_dup FROM r WHERE rank = 1
         |ORDER BY qid""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.bruteTopK(e, e.filter(col("vec_id") < 100), 1)
        .select(col("qid"), col("nid"), col("cos"), (col("cos") >= 0.9).as("is_dup"))
        .orderBy(col("qid"))
    },

    // IVF coarse-quantizer learning: per-bucket element-wise mean
    // embedding (the k-means update step; assignments here are the label
    // column, Similarity.assignToCentroids closes the Lloyd's loop).
    QDef("ann_ivf_centroids",
      """SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY label, i ORDER BY label, i""".stripMargin) { (s, d) =>
      Similarity.centroids(Tables.embeddings(s, d), "label")
        .orderBy(col("label"), col("i"))
    },

    // Mean pooling over L2-normalized embeddings per bucket — the standard
    // way to build a group/cluster representative vector when raw
    // magnitudes differ. Norms come from the codegen'd dot expression
    // (bit-equal to the oracle's list_reduce fold); shuffle is bounded by
    // buckets × dims after partial aggregation.
    QDef("emb_pool_normalized",
      s"""WITH nv AS (SELECT label, embedding,
         |             sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings)
         |SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE) / nrm), 6) AS pooled
         |FROM nv, range(1, 65) t(i)
         |GROUP BY label, i ORDER BY label, i""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      e.select(col("label"),
          sqrt(Similarity.nativeDot(col("embedding"), col("embedding"))).as("nrm"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), (col("pos") + 1).as("i"))
        .agg(round(avg(col("v").cast("double") / col("nrm")), 6).as("pooled"))
        .orderBy(col("label"), col("i"))
    },

    // approx distinct (HLL) beside the exact count — the sketch side has
    // no cross-engine oracle (HLL implementations differ), so the exact
    // column carries the check and the test suite bounds the sketch error.
    QDef("agg_approx_distinct",
      """SELECT event_type, count(DISTINCT user_id) AS exact_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
        .orderBy(col("event_type"))
    },

    // ---------------------------------------------------------- text analysis

    QDef("text_langid",
      """SELECT doc_id, lang, n_markers, n_tokens,
        |  CASE WHEN n_markers*1.0/n_tokens >= 0.05 THEN 'en' ELSE 'unk' END AS predicted
        |FROM (SELECT doc_id, lang,
        |        CAST(length(list_filter(string_split(text,' '),
        |          t -> t IN ('the','a','of','and','to','is'))) AS BIGINT) AS n_markers,
        |        CAST(length(string_split(text,' ')) AS BIGINT) AS n_tokens
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val (markers, n, predicted) = TextAnalysis.langId(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), markers.as("n_markers"),
          n.as("n_tokens"), predicted.as("predicted"))
        .orderBy(col("doc_id"))
    },

    QDef("text_quality_score",
      """SELECT doc_id,
        |  round(0.4 * (length(list_distinct(l))*1.0/length(l))
        |      + 0.4 * (1.0 - length(list_filter(l, t -> t IN ('the','a','of','and','to','is')))*1.0/length(l))
        |      + 0.2 * least(1.0, length(l)/50.0), 6) AS quality
        |FROM (SELECT doc_id, string_split(text,' ') AS l FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },

    // Gopher document-quality rules (Rae et al. 2021 §A1.1) as individual
    // flags + the combined gate — entirely row-local array folds, no
    // shuffle; integer ratios keep every flag engine-invariant.
    QDef("text_gopher_quality",
      """SELECT doc_id,
        |  CAST(length(l) AS BIGINT) AS n_words,
        |  round(CAST(list_sum(list_transform(l, w -> length(w))) AS DOUBLE) / length(l), 6) AS mean_word_len,
        |  round(CAST(length(list_filter(l, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) / length(l), 6) AS alpha_frac,
        |  CAST(list_sum(list_transform(['the','be','to','of','and','that','have','with','a','in'],
        |    sw -> CASE WHEN list_contains(l, sw) THEN 1 ELSE 0 END)) AS BIGINT) AS n_stopwords,
        |  length(l) >= 50 AND length(l) <= 100000 AS f_word_count,
        |  CAST(list_sum(list_transform(l, w -> length(w))) AS DOUBLE) / length(l) >= 3.0
        |    AND CAST(list_sum(list_transform(l, w -> length(w))) AS DOUBLE) / length(l) <= 10.0 AS f_mean_len,
        |  CAST(length(list_filter(l, w -> regexp_matches(w, '[#…]'))) AS DOUBLE) / length(l) < 0.1 AS f_symbol,
        |  CAST(length(list_filter(l, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) / length(l) >= 0.8 AS f_alpha,
        |  CAST(list_sum(list_transform(['the','be','to','of','and','that','have','with','a','in'],
        |    sw -> CASE WHEN list_contains(l, sw) THEN 1 ELSE 0 END)) AS BIGINT) >= 2 AS f_stopwords,
        |  (length(l) >= 50 AND length(l) <= 100000)
        |    AND (CAST(list_sum(list_transform(l, w -> length(w))) AS DOUBLE) / length(l) >= 3.0
        |         AND CAST(list_sum(list_transform(l, w -> length(w))) AS DOUBLE) / length(l) <= 10.0)
        |    AND (CAST(length(list_filter(l, w -> regexp_matches(w, '[#…]'))) AS DOUBLE) / length(l) < 0.1)
        |    AND (CAST(length(list_filter(l, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) / length(l) >= 0.8)
        |    AND (CAST(list_sum(list_transform(['the','be','to','of','and','that','have','with','a','in'],
        |         sw -> CASE WHEN list_contains(l, sw) THEN 1 ELSE 0 END)) AS BIGINT) >= 2) AS quality_pass
        |FROM (SELECT doc_id, string_split(text,' ') AS l FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id") +: TextAnalysis.gopherQualityFlags(col("text")): _*)
        .orderBy(col("doc_id"))
    },

    // Tokenizer-vocabulary coverage: per-doc out-of-vocabulary rate
    // against the corpus' top-20 tokens (deterministic count-desc,
    // token-asc tie-break). The vocab side is tiny and broadcasts; the
    // corpus pays one explode + a doc-keyed aggregation — never a
    // token-keyed shuffle of the big side.
    QDef("text_oov_rate",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |v AS (SELECT w FROM (SELECT w, count(*) AS c FROM tok GROUP BY w
        |                     ORDER BY c DESC, w LIMIT 20)),
        |f AS (SELECT doc_id, CASE WHEN w IN (SELECT w FROM v) THEN 0 ELSE 1 END AS oov FROM tok)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(oov) AS BIGINT) AS n_oov,
        |       round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(20)
        .select(col("w")).withColumn("__in", lit(1))
      toks.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).cast("long").as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens"), 6))
        .orderBy(col("doc_id"))
    },

    QDef("text_token_count",
      """SELECT doc_id,
        |  CAST(length(string_split(text,' ')) AS BIGINT) AS ws_tokens,
        |  CAST(length(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens,
        |  CAST(ceil(length(text)/4.0) AS BIGINT) AS approx_bpe
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val (ws, re, bpe) = TextAnalysis.tokenCounts(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), ws.as("ws_tokens"), re.as("re_tokens"), bpe.as("approx_bpe"))
        .orderBy(col("doc_id"))
    },

    // PII redaction over synthesized mixed-case contact lines: emails
    // (case-insensitive), 16-digit card numbers, 555- phone stubs →
    // typed placeholders. Pure regexp_replace chain, RE2/Java-portable.
    QDef("text_pii_redact",
      """SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    c_name || '@Example.COM wrote; card 4111222233334444 tel 555-' ||
        |      lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || ' ' || c_mktsegment,
        |    '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |    '\b[0-9]{16}\b', '[CARD]', 'g'),
        |    '\b555-[0-9]{4}\b', '[PHONE]', 'g') AS redacted
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          TextAnalysis.piiRedact(concat(
            col("c_name"), lit("@Example.COM wrote; card 4111222233334444 tel 555-"),
            lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
            lit(" "), col("c_mktsegment"))).as("redacted"))
        .orderBy(col("c_custkey"))
    },

    // canonical text normalization (lowercase / strip punct / collapse ws)
    QDef("text_normalize",
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower('¡' || text || '!?'), '[^a-z0-9 ]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.normalize(concat(lit("¡"), col("text"), lit("!?"))).as("norm"))
        .orderBy(col("doc_id"))
    },

    // corpus term frequency + document frequency, top 20
    QDef("text_term_freq",
      """SELECT w, count(*) AS df, CAST(sum(cnt) AS BIGINT) AS tf
        |FROM (SELECT doc_id, w, count(*) AS cnt
        |      FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
        |      GROUP BY doc_id, w)
        |GROUP BY w ORDER BY tf DESC, w LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("w")).agg(count(lit(1)).as("df"), sum(col("cnt")).as("tf"))
        .orderBy(col("tf").desc, col("w")).limit(20)
    },

    // Misra–Gries heavy hitters: per-partition bounded candidate counters
    // (capacity 1000 ≫ N/threshold bound), exact recount of the candidate
    // union only — the full token stream never shuffles; partition-
    // invariant because every token above N/500 must survive some
    // partition's counters (threshold N/500 > guarantee bound N/1001).
    QDef("text_heavy_hitters",
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM toks)
        |SELECT w, count(*) AS cnt
        |FROM toks, t GROUP BY w, t.total
        |HAVING CAST(count(*) AS DOUBLE) > t.total / 500.0
        |ORDER BY cnt DESC, w""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = docs.select(explode(split(col("text"), " ")).as("w"))
      // total from a narrow per-row size scan — no second token explode
      val total = docs.agg(
        sum(size(split(col("text"), " ")).cast("long")).as("total"))
      val cands = TextAnalysis.heavyHitterCandidates(toks, 1000).distinct()
      toks.join(broadcast(cands), Seq("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt").cast("double") > col("total").cast("double") / 500.0)
        .select(col("w"), col("cnt"))
        .orderBy(col("cnt").desc, col("w"))
    },

    // Unigram-LM document scoring (perplexity proxy): corpus frequencies →
    // −ln p(w) quantized to DECIMAL(18,6) → per-doc mean NLL. The vocab
    // table broadcasts; the only exchange is the doc_id rollup.
    QDef("text_lm_score",
      """WITH words AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM words),
        |nll AS (SELECT w, CAST(round(-ln(count(*) / t.total), 6) AS DECIMAL(18,6)) AS nll
        |        FROM words, tot t GROUP BY w, t.total)
        |SELECT d.doc_id, round(CAST(sum(n.nll) AS DOUBLE) / count(*), 6) AS avg_nll,
        |       count(*) AS n_tokens
        |FROM words d JOIN nll n USING (w)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.lmScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // TF-IDF document-term scoring: per-doc term frequency × corpus-wide
    // inverse document frequency. Both aggregates shrink map-side; the
    // doc-count scalar joins in as a broadcast. idf = ln((N+1)/(df+1))
    // (smoothed), rounded at 6dp on both sides (double ln).
    QDef("text_tfidf",
      """WITH words AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY w),
        |n AS (SELECT count(*) AS total FROM documents)
        |SELECT t.doc_id, t.w, t.tf, d.df,
        |  round(t.tf * ln((n.total + 1.0) / (d.df + 1.0)), 6) AS tfidf
        |FROM tf t JOIN df d USING (w) CROSS JOIN n
        |WHERE t.doc_id < 50 ORDER BY doc_id, w""".stripMargin) { (s, d) =>
      val words = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val df = words.groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("total"))
      // df is |vocab| rows — orders of magnitude smaller than the corpus —
      // so broadcast it and the tf side never shuffles by term
      tf.filter(col("doc_id") < 50)
        .join(broadcast(df), Seq("w"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("w"), col("tf"), col("df"),
          round(col("tf") * log((col("total") + 1.0) / (col("df") + 1.0)), 6).as("tfidf"))
        .orderBy(col("doc_id"), col("w"))
    },

    // TF-IDF cosine document similarity, top-3 per doc — the sparse
    // counterpart of the embedding ANN family: an INVERTED-INDEX join
    // (pairs meet only on shared terms, never a cross join), dot
    // products as 12dp-decimal sums (order-free), norms precomputed per
    // doc, and the per-query top-k through the bounded-heap operator.
    // The pairing is bounded to doc_id < 200 like the other pairwise
    // verifications; the weights/norms stages are the part that scales.
    QDef("text_tfidf_sim_topk",
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |words AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM base),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY w),
        |n AS (SELECT count(*) AS total FROM base),
        |wt AS (SELECT doc_id, w, round(tf * ln((n.total + 1.0) / (df.df + 1.0)), 6) AS wgt
        |       FROM tf JOIN df USING (w), n),
        |nr AS (SELECT doc_id, sum(CAST(floor(wgt * wgt * 1e12 + 0.5) / 1e12 AS DECIMAL(28,12))) AS n2
        |       FROM wt GROUP BY doc_id),
        |dots AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
        |           sum(CAST(floor(a.wgt * b.wgt * 1e12 + 0.5) / 1e12 AS DECIMAL(28,12))) AS dot
        |         FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sims AS (SELECT d1, d2, round(CAST(dot AS DOUBLE)
        |           / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))), 6) AS sim
        |         FROM dots JOIN nr x ON d1 = x.doc_id JOIN nr y ON d2 = y.doc_id),
        |bi AS (SELECT d1, d2, sim FROM sims UNION ALL SELECT d2, d1, sim FROM sims),
        |r AS (SELECT d1, d2, sim,
        |        CAST(row_number() OVER (PARTITION BY d1 ORDER BY sim DESC, d2) AS INTEGER) AS rank
        |      FROM bi)
        |SELECT d1, d2, sim, rank FROM r WHERE rank <= 3
        |ORDER BY d1, rank""".stripMargin) { (s, d) =>
      val D12 = org.apache.spark.sql.types.DecimalType(28, 12)
      val base = Tables.documents(s, d).filter(col("doc_id") < 200)
      val words = base.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val dfr = words.groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
      val n = base.agg(count(lit(1)).as("total"))
      // weights feed both join sides AND the norms — persist, same
      // reasoning as the simhash/LSH self-join pipelines
      val wt = graft.ext.BoundedCache.persist("pack.tfidf_sim_topk.wt",
        tf.join(broadcast(dfr), Seq("w")).crossJoin(broadcast(n))
          .select(col("doc_id"), col("w"),
            round(col("tf") * log((col("total") + 1.0) / (col("df") + 1.0)), 6).as("wgt")))
      val nr = wt.groupBy(col("doc_id"))
        .agg(sum((floor(col("wgt") * col("wgt") * lit(1e12) + lit(0.5)) / lit(1e12)).cast(D12)).as("n2"))
      val a = wt.select(col("w"), col("doc_id").as("d1"), col("wgt").as("wa"))
      val b = wt.select(col("w"), col("doc_id").as("d2"), col("wgt").as("wb"))
      val dots = a.join(b, Seq("w")).filter(col("d1") < col("d2"))
        .groupBy(col("d1"), col("d2"))
        .agg(sum((floor(col("wa") * col("wb") * lit(1e12) + lit(0.5)) / lit(1e12)).cast(D12)).as("dot"))
      val sims = dots
        .join(broadcast(nr.select(col("doc_id").as("d1"), col("n2").as("na"))), Seq("d1"))
        .join(broadcast(nr.select(col("doc_id").as("d2"), col("n2").as("nb"))), Seq("d2"))
        .select(col("d1"), col("d2"),
          round(col("dot").cast("double")
            / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6).as("sim"))
      // explode-symmetrize: the union form ran the whole pair join +
      // decimal rollup TWICE (once per direction); one explode emits
      // both directions from a single evaluation
      val bi = sims.select(explode(array(
          struct(col("d1"), col("d2"), col("sim")),
          struct(col("d2").as("d1"), col("d1").as("d2"), col("sim")))).as("_p"))
        .select(col("_p.d1").as("d1"), col("_p.d2").as("d2"), col("_p.sim").as("sim"))
      val top = graft.ops.Ops.topKPerKey(bi, Seq("d1"),
        Seq(("sim", true), ("d2", false)), 3)
      top.withColumn("rank", row_number().over(
          Window.partitionBy(col("d1")).orderBy(col("sim").desc, col("d2"))))
        .orderBy(col("d1"), col("rank"))
    },

    // corpus bigram frequency, top 20
    QDef("text_ngram_freq",
      """SELECT g, count(*) AS n
        |FROM (SELECT unnest(list_transform(range(1, length(l)), i -> array_to_string(l[i:i+1], ' '))) AS g
        |      FROM (SELECT string_split(text,' ') AS l FROM documents))
        |GROUP BY g ORDER BY n DESC, g LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(TextAnalysis.ngrams(col("text"), 2)).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("g")).limit(20)
    },

    // the composed C4-style keep/drop filter over quality + langid +
    // length — what a training-data ingest actually runs per document
    QDef("text_filter_pipeline",
      """SELECT doc_id, quality, predicted, n_tokens,
        |  (quality >= 0.5 AND predicted = 'en' AND n_tokens >= 10) AS keep
        |FROM (
        |  SELECT doc_id,
        |    round(0.4 * (length(list_distinct(l))*1.0/length(l))
        |        + 0.4 * (1.0 - length(list_filter(l, t -> t IN ('the','a','of','and','to','is')))*1.0/length(l))
        |        + 0.2 * least(1.0, length(l)/50.0), 6) AS quality,
        |    CASE WHEN length(list_filter(l, t -> t IN ('the','a','of','and','to','is')))*1.0/length(l) >= 0.05
        |         THEN 'en' ELSE 'unk' END AS predicted,
        |    CAST(length(l) AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id, string_split(text,' ') AS l FROM documents))
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val (_, n, predicted) = TextAnalysis.langId(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"),
          predicted.as("predicted"), n.as("n_tokens"))
        .withColumn("keep",
          col("quality") >= 0.5 && col("predicted") === "en" && col("n_tokens") >= 10)
        .orderBy(col("doc_id"))
    },

    QDef("text_fingerprint_rolling",
      """SELECT doc_id,
        |  list_reduce(list_transform(string_split(text,' '),
        |    w -> CAST(ascii(w) + length(w) AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.rollingFingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    // Sliding-window chunking: 20-token chunks, stride 15 (5-token
    // overlap) — the context-window prep step of every LLM ingest.
    // posexplode over a pure array program; one row per (doc, chunk).
    QDef("text_chunk_windows",
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS l FROM documents WHERE doc_id < 100),
        |c AS (SELECT doc_id,
        |        unnest(list_transform(range(CAST((length(l)-1)//15 AS INTEGER) + 1),
        |          i -> struct_pack(idx := i, chunk := array_to_string(l[i*15+1 : i*15+20], ' ')))) AS s
        |      FROM base)
        |SELECT doc_id, CAST(s.idx AS INTEGER) AS chunk_idx, s.chunk AS chunk,
        |  CAST(length(string_split(s.chunk,' ')) AS BIGINT) AS chunk_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunks(col("text"), 20, 15)).as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx"), col("chunk"),
          size(split(col("chunk"), " ")).cast("long").as("chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // Dedup cluster summary: the clustering output rolled up to
    // (cluster, size, sorted member list) — the shape a dedup report/
    // canonical-selection job consumes.
    QDef("dedup_cluster_summary",
      s"""WITH RECURSIVE ${simhashCte("doc_id < 128")},
         |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2
         |          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 12),
         |sym AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
         |reach(a, b) AS (SELECT doc_id, doc_id FROM sh
         |                UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         |lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
         |SELECT cluster_id, count(*) AS n, to_json(list(doc_id ORDER BY doc_id)) AS members
         |FROM lab GROUP BY cluster_id ORDER BY cluster_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 128)
      val pairs = TextDedup.simhashPairs(
        TextDedup.simhash(docs, "doc_id", "text"), 12).select(col("d1"), col("d2"))
      // members rendered as compact JSON at the compare boundary: the
      // driver's row-sort cannot order raw arrays (see NOTES.md).
      TextDedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs)
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n"),
          to_json(sort_array(collect_list(col("id")))).as("members"))
        .orderBy(col("cluster_id"))
    },

    // Scalar int8 quantization of embeddings (the memory-side of ANN at
    // scale: 4× smaller vectors, dot products in integer arithmetic).
    // Per-vector absmax scale; exploded long form so the oracle checks
    // every quantized component. Deterministic IEEE double ops on both
    // engines; round = half-away-from-zero in both.
    QDef("emb_quantize_int8",
      """WITH q AS (SELECT vec_id, embedding,
        |             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |           FROM embeddings WHERE vec_id < 50)
        |SELECT vec_id, CAST(i AS INTEGER) AS i, round(mx, 6) AS scale,
        |  CAST(round(CAST(embedding[i] AS DOUBLE) / mx * 127) AS INTEGER) AS q
        |FROM q, range(1, 65) t(i)
        |ORDER BY vec_id, i""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d).filter(col("vec_id") < 50)
        .select(col("vec_id"),
          array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("mx"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), (col("pos") + 1).cast("int").as("i"),
          round(col("mx"), 6).as("scale"),
          round(col("v").cast("double") / col("mx") * 127, 0).cast("int").as("q"))
        .orderBy(col("vec_id"), col("i"))
    },

    // Quantized SEARCH over the int8 codes (the serving half of
    // emb_quantize_int8): queries and corpus both absmax-int8-encoded,
    // similarity = integer dot × the two scales. The integer dot is a
    // BIGINT sum — order-free on any partitioning by construction (no
    // decimal discipline needed), and 4× less memory bandwidth than the
    // float scan at 100 TB. Query block broadcast, corpus scanned once,
    // bounded-heap top-k.
    QDef("ann_sq8_topk",
      s"""WITH $sq8ScoreSql,
         |r AS (SELECT qid, nid, score,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS INTEGER) AS rank
         |      FROM sc)
         |SELECT qid, nid, score, rank FROM r WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      // encode+score single-sourced with the refine variant (sq8Scored;
      // measured 1.8 s → sub-second vs the exploded-join form)
      val pruned = graft.ops.Ops.topKPerKey(sq8Scored(s, d), Seq("qid"),
        Seq(("score", true), ("nid", false)), 5)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
      pruned.withColumn("rank", row_number().over(w))
        .orderBy(col("qid"), col("rank"))
    },

    // Sequence packing: assign documents to fixed-token-budget training
    // bins (512 tokens) with a per-source running count — the classic
    // "pack short documents into full sequences" pass. The running count
    // is the chunked two-level prefix sum (Ops.chunkedCumsum — a plain
    // per-source window would serialize each source onto one task);
    // integer token counts make the fold exact on any partitioning.
    QDef("text_pack_sequences",
      """WITH t AS (SELECT source, doc_id, length(string_split(text, ' ')) AS n_tokens FROM documents),
        |c AS (SELECT source, doc_id, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t)
        |SELECT source, doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, cum,
        |  CAST((cum - n_tokens) // 512 AS BIGINT) AS bin
        |FROM c ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      graft.ops.Ops.chunkedCumsum(
          Tables.documents(s, d)
            .select(col("source"), col("doc_id"),
              size(split(col("text"), " ")).as("n_tokens")),
          "source", "doc_id", "n_tokens", "cum")
        .withColumn("cum", col("cum").cast("long"))
        .withColumn("bin", floor((col("cum") - col("n_tokens")) / 512).cast("long"))
        .orderBy(col("source"), col("doc_id"))
    },

    // Weighted mixture sampling: per-source keep rates (1/2, 1/5, 1/10 by
    // source class) — the dataset-mixing step of a training pipeline.
    // Deterministic every-Nth-per-source selection, no RNG, so the same
    // mixture materializes on any engine/run/partitioning.
    QDef("sample_mixture",
      """WITH r AS (SELECT doc_id, source,
        |    CASE CAST(substr(source, 4) AS INTEGER) % 3
        |      WHEN 0 THEN 2 WHEN 1 THEN 5 ELSE 10 END AS rate,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, rate FROM r WHERE rn % rate = 1
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // per-source ordinal = chunked cumsum of ones (doc ids are unique,
      // so the running count IS row_number — without the per-source
      // single-partition window)
      graft.ops.Ops.chunkedCumsum(
          Tables.documents(s, d)
            .select(col("doc_id"), col("source")).withColumn("one", lit(1L)),
          "source", "doc_id", "one", "rn")
        .withColumn("rate",
          when(substring(col("source"), 4, 10).cast("int") % 3 === 0, 2)
            .when(substring(col("source"), 4, 10).cast("int") % 3 === 1, 5)
            .otherwise(10))
        .filter(col("rn") % col("rate") === 1)
        .select(col("doc_id"), col("source"), col("rate"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------------ multimodal

    // frame sampling: one payload row → per-frame rows (video/audio
    // pattern); window arithmetic oracle-checked, codec stubbed
    QDef("multimodal_frames",
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST(i * (n // f) AS BIGINT) AS offset,
        |  CAST(n // f AS BIGINT) AS frame_len,
        |  ascii(substr(text, CAST(i * (n // f) AS INTEGER) + 1, 1)) AS first_byte
        |FROM (SELECT doc_id, text, length(text) AS n, length(text) % 30 + 1 AS f
        |      FROM documents WHERE doc_id < 100), unnest(range(f)) t(i)
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      Multimodal.sampleFrames(
        Multimodal.asMedia(Tables.documents(s, d).filter(col("doc_id") < 100),
          "doc_id", "text"))
        .toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    QDef("multimodal_decode",
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END AS mime,
        |  CAST(length(text) AS BIGINT) AS n_bytes,
        |  CAST(length(text) % 640 + 32 AS INTEGER) AS width,
        |  CAST((length(text) * 7) % 480 + 32 AS INTEGER) AS height,
        |  CAST(length(text) % 30 + 1 AS INTEGER) AS n_frames,
        |  sha256(text) AS sha
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // REAL image decode + resize — the JDK's own javax.imageio PNG codec
    // closes the image half of the multimodal gap (no external codec
    // needed; only audio/video remain environment-blocked). Fully
    // distributed: each executor GENERATES its deterministic two-band
    // PNG payload (left half c1 = doc_id%200, right half c2 =
    // (doc_id*31)%200; w divisible by 4, so halves stay aligned through
    // the 2:1 nearest-neighbor resize), really encodes it, really
    // decodes it back, and reduces to EXACT integer channel sums with
    // closed forms the oracle recomputes. No driver staging, no shuffle:
    // one narrow mapPartitions over documents.
    QDef("multimodal_decode_real",
      """SELECT doc_id,
        |  CAST(16 + (doc_id % 8) * 4 AS INTEGER) AS width,
        |  CAST(8 + doc_id % 8 AS INTEGER) AS height,
        |  CAST((doc_id % 200 + (doc_id * 31) % 200)
        |       * ((16 + (doc_id % 8) * 4) // 2) * (8 + doc_id % 8) AS BIGINT) AS sum_r,
        |  CAST(8 + (doc_id % 8) * 2 AS INTEGER) AS half_w,
        |  CAST(4 + (doc_id % 8) // 2 AS INTEGER) AS half_h,
        |  CAST((doc_id % 200 + (doc_id * 31) % 200)
        |       * ((8 + (doc_id % 8) * 2) // 2) * (4 + (doc_id % 8) // 2) AS BIGINT) AS half_sum_r
        |FROM documents WHERE doc_id < 256 ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).filter(col("doc_id") < 256)
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val w = 16 + (id % 8).toInt * 4
            val h = 8 + (id % 8).toInt
            val c1 = (id % 200).toInt
            val c2 = (id * 31 % 200).toInt
            val png = Multimodal.twoBandPng(w, h, c1, c2)
            val full = Multimodal.decodeImage(id, png)
            // real 2:1 nearest-neighbor resize + re-encode + re-decode:
            // the whole codec loop runs, not metadata arithmetic
            val halfPng = Multimodal.resizePng(png, w / 2, h / 2)
            val half = Multimodal.decodeImage(id, halfPng)
            (id, full.width, full.height, full.sum_r,
              half.width, half.height, half.sum_r)
          }
        }
        .toDF("doc_id", "width", "height", "sum_r", "half_w", "half_h", "half_sum_r")
        .orderBy(col("doc_id"))
    },

    // REAL audio decode — WAV/PCM16 is a public RIFF layout and needs
    // only the JDK; each executor generates its deterministic sawtooth
    // (sample_i = (i*a + b) % 2000 - 1000), writes REAL WAV bytes, and
    // the RIFF chunk-walking decoder recovers rate/channels/bits and the
    // exact sample count + sum; the oracle recomputes the sum
    // relationally over range(). With images real above, only VIDEO
    // remains environment-blocked. Same distributed shape: one narrow
    // mapPartitions, no staging, no shuffle.
    QDef("multimodal_audio_real",
      """SELECT doc_id,
        |  8000 AS sample_rate, 1 AS n_channels, 16 AS bits,
        |  CAST(1000 + (doc_id % 10) * 100 AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(range(0, 1000 + (doc_id % 10) * 100),
        |    i -> (i * (7 + doc_id % 5) + doc_id % 97) % 2000 - 1000)) AS BIGINT) AS sum_samples
        |FROM documents WHERE doc_id < 256 ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).filter(col("doc_id") < 256)
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val n = 1000 + (id % 10).toInt * 100
            val a = 7 + (id % 5).toInt
            val b = (id % 97).toInt
            val samples = Array.tabulate(n)(i => ((i.toLong * a + b) % 2000 - 1000).toShort)
            val wav = Multimodal.pcmWav(samples)
            val f = Multimodal.decodeWav(id, wav)
            (id, f.sample_rate, f.n_channels, f.bits, f.n_samples, f.sum_samples)
          }
        }
        .toDF("doc_id", "sample_rate", "n_channels", "bits", "n_samples", "sum_samples")
        .orderBy(col("doc_id"))
    },

    // REAL video decode — Motion-JPEG-in-AVI with zero new deps (r8
    // VERDICT next-round #8): AVI is RIFF (Microsoft's public AVI RIFF
    // layout, same chunk-walk discipline as the WAV path) and the JDK
    // ships a real JPEG codec. Each executor builds deterministic
    // two-band frames, encodes them into BOTH container variants —
    // lossless uncompressed-DIB (`00db`) and MJPEG (`00dc`, real JPEG
    // encode/decode) — and chunk-walks them back. Channel sums ride the
    // lossless DIB loop (closed-form oracle: JPEG's DCT round-trip is
    // not relationally expressible); the MJPEG loop's structural
    // features (frame count, dims from decoded JPEGs) are asserted
    // equal in-plan, and ExtSpec pins its pixel error band against the
    // lossless truth. One narrow mapPartitions, no staging, no shuffle.
    QDef("multimodal_video_real",
      """WITH fr AS (SELECT doc_id,
        |              unnest(range(0, CAST(doc_id % 5 + 2 AS BIGINT))) AS i
        |            FROM documents WHERE doc_id < 128)
        |SELECT doc_id,
        |  CAST(16 + (doc_id % 4) * 4 AS INTEGER) AS width,
        |  CAST(8 + doc_id % 4 AS INTEGER) AS height,
        |  CAST(doc_id % 5 + 2 AS INTEGER) AS n_frames,
        |  CAST(sum(((doc_id + i * 7) % 200 + (doc_id * 31 + i * 13) % 200)
        |       * ((16 + (doc_id % 4) * 4) // 2) * (8 + doc_id % 4)) AS BIGINT) AS sum_r,
        |  CAST(doc_id % 5 + 2 AS INTEGER) AS n_frames_mjpeg
        |FROM fr GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).filter(col("doc_id") < 128)
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val w = 16 + (id % 4).toInt * 4
            val h = 8 + (id % 4).toInt
            val n = (id % 5).toInt + 2
            val frames = (0 until n).map(i => Multimodal.twoBandImage(w, h,
              ((id + i * 7) % 200).toInt, ((id * 31 + i * 13) % 200).toInt))
            val dib = Multimodal.decodeAvi(id, Multimodal.aviOf(frames, 10, mjpeg = false))
            val mj = Multimodal.decodeAvi(id, Multimodal.aviOf(frames, 10, mjpeg = true))
            // the MJPEG loop must agree on everything JPEG preserves
            require(mj.width == dib.width && mj.height == dib.height,
              s"doc $id: MJPEG/DIB dimension mismatch")
            (id, dib.width, dib.height, dib.n_frames, dib.sum_r, mj.n_frames)
          }
        }
        .toDF("doc_id", "width", "height", "n_frames", "sum_r", "n_frames_mjpeg")
        .orderBy(col("doc_id"))
    },

    // REAL frame sampling over the real container: decode every 2nd
    // frame, SKIP the rest without decoding (for MJPEG the chunk walk
    // just advances past the compressed payload — the actual saving of
    // frame sampling at 100 TB). Channel sums ride the lossless DIB
    // loop (closed-form oracle); the MJPEG walk must agree on total and
    // sampled frame counts in-plan.
    QDef("multimodal_frames_real",
      """WITH fr AS (SELECT doc_id,
        |              unnest(range(0, CAST(doc_id % 5 + 2 AS BIGINT))) AS i
        |            FROM documents WHERE doc_id < 128)
        |SELECT doc_id,
        |  CAST(doc_id % 5 + 2 AS INTEGER) AS n_frames,
        |  CAST((doc_id % 5 + 3) // 2 AS INTEGER) AS n_sampled,
        |  CAST(sum(CASE WHEN i % 2 = 0 THEN
        |        ((doc_id + i * 7) % 200 + (doc_id * 31 + i * 13) % 200)
        |        * ((16 + (doc_id % 4) * 4) // 2) * (8 + doc_id % 4) ELSE 0 END) AS BIGINT) AS sum_r
        |FROM fr GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).filter(col("doc_id") < 128)
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val w = 16 + (id % 4).toInt * 4
            val h = 8 + (id % 4).toInt
            val n = (id % 5).toInt + 2
            val frames = (0 until n).map(i => Multimodal.twoBandImage(w, h,
              ((id + i * 7) % 200).toInt, ((id * 31 + i * 13) % 200).toInt))
            val dib = Multimodal.sampleAviFrames(id,
              Multimodal.aviOf(frames, 10, mjpeg = false), stride = 2)
            val mj = Multimodal.sampleAviFrames(id,
              Multimodal.aviOf(frames, 10, mjpeg = true), stride = 2)
            require(mj.n_frames == dib.n_frames && mj.n_sampled == dib.n_sampled,
              s"doc $id: MJPEG/DIB sampling mismatch")
            (id, dib.n_frames, dib.n_sampled, dib.sum_r)
          }
        }
        .toDF("doc_id", "n_frames", "n_sampled", "sum_r")
        .orderBy(col("doc_id"))
    },

    // resize stage: 2:1 byte-decimation stub with the real metadata
    // arithmetic (src dims from decode, 6dp scale factors); batchwise
    // mapPartitions shape like decode
    QDef("multimodal_resize",
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes_in,
        |  CAST((length(text) + 1) // 2 AS BIGINT) AS n_bytes_out,
        |  CAST(length(text) % 640 + 32 AS INTEGER) AS src_w,
        |  CAST((length(text) * 7) % 480 + 32 AS INTEGER) AS src_h,
        |  round(64.0 / (length(text) % 640 + 32), 6) AS scale_x,
        |  round(64.0 / ((length(text) * 7) % 480 + 32), 6) AS scale_y
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.resize(
          Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"), 64, 64)
        .select(col("doc_id"), col("n_bytes_in"), col("n_bytes_out"),
          col("src_w"), col("src_h"), col("scale_x"), col("scale_y"))
        .orderBy(col("doc_id"))
    },

    // Paired-modality curation (the CLIP image–text pair filter): media
    // payloads join their embedding rows on the shared pair key, and a
    // pair survives only if BOTH modalities pass — text quality over
    // threshold AND the embedding cosine-aligned with its label centroid
    // (the stand-in for the CLIP image↔caption score; misaligned pairs
    // are the ones curation exists to drop). Centroids are k×dims
    // broadcast; the pair join is a plain equi-join on the key — at
    // 100 TB both sides hash-partition by key and each side's filter
    // runs before the shuffle.
    QDef("multimodal_pair_align",
      s"""WITH q AS (SELECT doc_id,
         |        round(0.4 * (length(list_distinct(l))*1.0/length(l))
         |            + 0.4 * (1.0 - length(list_filter(l, t -> t IN ('the','a','of','and','to','is')))*1.0/length(l))
         |            + 0.2 * least(1.0, length(l)/50.0), 6) AS quality
         |      FROM (SELECT doc_id, string_split(text,' ') AS l FROM documents)),
         |cents AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
         |          FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         |cvec AS (SELECT label, list(mean ORDER BY i) AS cv FROM cents GROUP BY label),
         |e AS (SELECT e.vec_id, e.label,
         |        round(${dotSql("e.embedding", "c.cv")}
         |          / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("c.cv", "c.cv")})), 6) AS align
         |      FROM embeddings e JOIN cvec c USING (label) WHERE e.vec_id < 500)
         |SELECT q.doc_id, e.label, q.quality, e.align
         |FROM q JOIN e ON q.doc_id = e.vec_id
         |WHERE q.quality >= 0.74 AND e.align >= 0.1
         |ORDER BY q.doc_id""".stripMargin) { (s, d) =>
      val nd = Similarity.nativeDot(_: Column, _: Column)
      val q = Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .filter(col("quality") >= 0.74)
      val cvec = Similarity.centroids(Tables.embeddings(s, d), "label")
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("i"), col("mean")))).as("c"))
        .select(col("label"), transform(col("c"), x => x.getField("mean")).as("cv"))
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 500)
        .join(broadcast(cvec), Seq("label"))
        .select(col("vec_id"), col("label"),
          round(nd(col("embedding"), col("cv"))
            / (sqrt(nd(col("embedding"), col("embedding"))) * sqrt(nd(col("cv"), col("cv")))), 6)
            .as("align"))
        .filter(col("align") >= 0.1)
      q.join(e, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("label"), col("quality"), col("align"))
        .orderBy(col("doc_id"))
    },

    // Corpus length profile in power-of-two buckets (the pretraining
    // sanity dashboard: truncation rates, packing efficiency, outlier
    // docs all read off this). floor(ln(n)/ln(2)) is computed from
    // identical doubles on both engines, so bucket edges agree even
    // where the quotient sits a ulp off an integer.
    QDef("text_length_profile",
      """WITH t AS (SELECT length(string_split(text, ' ')) AS n_tokens FROM documents)
        |SELECT CAST(floor(ln(n_tokens) / ln(2)) AS INTEGER) AS log2_bucket,
        |  count(*) AS n_docs,
        |  CAST(min(n_tokens) AS BIGINT) AS min_tokens,
        |  CAST(max(n_tokens) AS BIGINT) AS max_tokens
        |FROM t GROUP BY 1 ORDER BY log2_bucket""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .groupBy(floor(log(col("n_tokens")) / log(lit(2.0))).cast("int").as("log2_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_tokens")).cast("long").as("min_tokens"),
          max(col("n_tokens")).cast("long").as("max_tokens"))
        .orderBy(col("log2_bucket"))
    },

    // BPE merge-candidate counting — the inner loop of tokenizer
    // training, distributively: corpus words collapse to (word, freq)
    // first (the classic BPE trick: pair counts weight by word
    // frequency, so the explode runs over the VOCABULARY, not the
    // corpus), then adjacent character pairs explode and sum. The top
    // pair is the next merge; iterating re-runs this query over the
    // merged symbol stream. Top 20 by count with a lexical tiebreak.
    QDef("text_bpe_merge_candidates",
      """WITH words AS (SELECT w, count(*) AS freq
        |               FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)
        |               WHERE w <> '' GROUP BY w),
        |pairs AS (SELECT unnest(list_transform(range(1, length(w)),
        |                 i -> substr(w, CAST(i AS INTEGER), 2))) AS pair, freq
        |          FROM words WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        |FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (s, d) =>
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      words.filter(length(col("w")) >= 2)
        .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"), col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).cast("long").as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    // BPE ENCODE — the apply half of the tokenizer story (merge training
    // above; application here): every document encoded against the fixed
    // ranked merge vocabulary, per-doc token and unique-token counts. The
    // whole encode is a chain of row-local codegen'd regexp_replaces
    // (merge list as plan literals — a production vocab is a versioned
    // config artifact); the identical chain runs in DuckDB (Java regex
    // and RE2 agree on \b and global replace), making the token stream
    // itself the compared value, not just its length.
    QDef("text_bpe_encode",
      s"""SELECT doc_id,
         |  CASE WHEN trim(enc) = '' THEN 0
         |       ELSE CAST(length(string_split_regex(trim(enc), ' +')) AS BIGINT) END AS n_tokens,
         |  CASE WHEN trim(enc) = '' THEN 0
         |       ELSE CAST(length(list_distinct(string_split_regex(trim(enc), ' +'))) AS BIGINT) END AS n_unique,
         |  md5(trim(enc)) AS enc_md5
         |FROM (SELECT doc_id, ${graft.ext.TextAnalysis.bpeMerges.foldLeft(
              """regexp_replace(lower(regexp_replace(text, '[^A-Za-z]+', ' ', 'g')), '([a-z])', '\1 ', 'g')""") {
                case (inner, (a, b)) => s"regexp_replace($inner, '\\b$a $b\\b', '$a$b', 'g')"
              }} AS enc FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val enc = trim(graft.ext.TextAnalysis.bpeEncode(col("text")))
      Tables.documents(s, d)
        .select(col("doc_id"), enc.as("enc"))
        .select(col("doc_id"),
          when(length(col("enc")) === 0, lit(0L))
            .otherwise(size(split(col("enc"), " +")).cast("long")).as("n_tokens"),
          when(length(col("enc")) === 0, lit(0L))
            .otherwise(size(array_distinct(split(col("enc"), " +"))).cast("long")).as("n_unique"),
          md5(col("enc")).as("enc_md5"))
        .orderBy(col("doc_id"))
    },

    // BPE TRAINER (VERDICT r16 task 2; scaled past toy round counts in
    // r17 per VERDICT task 1) — the loop that LEARNS the ranked merge
    // list the encoder serves (merge_candidates scores one round; encode
    // applies a fixed vocabulary; this is the train loop between them):
    // rounds=256 of top-pair → merge → re-count over the
    // frequency-weighted char-spaced vocabulary, deterministic tiebreak
    // (count desc, then both symbols lexically); on this corpus the
    // vocabulary exhausts first (every word one symbol), so the full
    // learnable merge table comes back and BOTH engines terminate on the
    // same data-derived fixed point. Spark side: ONE corpus aggregation
    // (the (word,freq) collapse), then the merge loop runs driver-local
    // with incremental pair statistics — not one Spark job per round.
    // The oracle RE-DERIVES every round in one recursive CTE (the
    // pageRank/CC fixed-point precedent), so a wrong pair pick, a wrong
    // weight, a merge applied out of order, or a wrong stopping point
    // all hash-fail.
    QDef("text_bpe_train",
      s"""WITH RECURSIVE ${bpeTrainRecursiveCte(256)}
         |SELECT CAST(r AS INTEGER) AS rank, a AS lhs, b AS rhs, n
         |FROM bpe WHERE r >= 1 GROUP BY ALL
         |ORDER BY rank""".stripMargin) { (s, d) =>
      import s.implicits._
      TextAnalysis.bpeTrain(Tables.documents(s, d), "text", rounds = 256)
        .zipWithIndex
        .map { case ((a, b, n), i) => (i + 1, a, b, n) }
        .toDF("rank", "lhs", "rhs", "n")
        .orderBy(col("rank"))
    },

    // BPE train→serve COMPOSITION — the tokenizer loop closed end to end
    // (the text sibling of ann_ivf_swap_serve's quantizer loop): the
    // corpus is encoded against the FULL trained vocabulary (rounds=256
    // → every learnable merge on this corpus), not the fixed config
    // literal text_bpe_encode serves. Both engines derive all merges
    // from the data AND apply them — a training divergence that happened
    // to keep counts plausible, or an application order bug, lands in
    // the token-stream md5. Spark side: the learned table travels as ONE
    // plan literal into the native graft_bpe_apply expression (bounded
    // chain depth at any vocabulary size — the r17 serving path for
    // trained vocabularies); corpus never shuffles. Oracle side: the
    // recursive trainer feeds a second recursive CTE that re-applies the
    // merges rank by rank; `merges` is MATERIALIZED because the encode
    // recursion references it every iteration — inlined, each iteration
    // would re-run the whole training recursion (measured 125 s → 2 s).
    QDef("text_bpe_train_encode",
      s"""WITH RECURSIVE ${bpeTrainRecursiveCte(256)},
         |merges AS MATERIALIZED (SELECT CAST(r AS INTEGER) AS rank, a, b
         |                        FROM bpe WHERE r >= 1 GROUP BY ALL),
         |enc(doc_id, e, er) AS (
         |  SELECT doc_id,
         |    regexp_replace(lower(regexp_replace(text, '[^A-Za-z]+', ' ', 'g')), '([a-z])', '\\1 ', 'g'),
         |    0
         |  FROM documents
         |  UNION ALL
         |  SELECT enc.doc_id,
         |    regexp_replace(e, '\\b' || m.a || ' ' || m.b || '\\b', m.a || m.b, 'g'),
         |    er + 1
         |  FROM enc JOIN merges m ON m.rank = enc.er + 1
         |)
         |SELECT doc_id,
         |  CASE WHEN trim(e) = '' THEN 0
         |       ELSE CAST(length(string_split_regex(trim(e), ' +')) AS BIGINT) END AS n_tokens,
         |  CASE WHEN trim(e) = '' THEN 0
         |       ELSE CAST(length(list_distinct(string_split_regex(trim(e), ' +'))) AS BIGINT) END AS n_unique,
         |  md5(trim(e)) AS enc_md5
         |FROM enc WHERE er = (SELECT max(er) FROM enc)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val learned = TextAnalysis.bpeTrain(docs, "text", rounds = 256)
        .map { case (a, b, _) => (a, b) }
      val enc = trim(TextAnalysis.bpeEncodeTrained(col("text"), learned))
      docs.select(col("doc_id"), enc.as("enc"))
        .select(col("doc_id"),
          when(length(col("enc")) === 0, lit(0L))
            .otherwise(size(split(col("enc"), " +")).cast("long")).as("n_tokens"),
          when(length(col("enc")) === 0, lit(0L))
            .otherwise(size(array_distinct(split(col("enc"), " +"))).cast("long")).as("n_unique"),
          md5(col("enc")).as("enc_md5"))
        .orderBy(col("doc_id"))
    },

    // VERSIONED-VOCABULARY tokenizer serve (r17) — the tokenizer
    // sibling of ann_ivf_swap_serve, closing the one gap left in the
    // BPE story: train_encode derives merges in-process, but a
    // production tokenizer is a STORED versioned artifact (retrain the
    // vocabulary and every consumer must re-tokenize consistently, or
    // your token ids silently shift mid-corpus). The vocabulary trained
    // before the arrival slice commits as version 1 of a transactional
    // graft-atomic table; the full-corpus retrain commits as version 2
    // (truncate — promotion replaces); the encoder then serves the
    // arrival documents from BOTH the read-back current artifact and
    // the read-back v1 snapshot, through the bounded graft_bpe_apply
    // path. Both engines derive both vocabularies from the data AND
    // apply them — an append-shaped swap, an off-by-one version
    // pointer, or a rank scramble in the stored table lands in the
    // token-stream md5 of the corresponding branch. The artifact is
    // KB-sized at any corpus scale (Heaps-bounded merges), so the
    // swap stays two manifest renames and the serve reads rows at the
    // trained-artifact grain.
    QDef("text_bpe_vocab_swap_serve", {
      def encCte(cte: String, merges: String): String =
        bpeEncRecursiveCte(cte, merges, "WHERE doc_id % 10 = 0")
      def finalSel(tag: String, cte: String): String =
        bpeEncFinal(s"'$tag' AS vocab", cte)
      s"""WITH RECURSIVE ${bpeTrainRecursiveCte(256, "", "bpn")},
         |${bpeTrainRecursiveCte(256, "WHERE doc_id % 10 <> 0", "bpo")},
         |mn AS MATERIALIZED (SELECT CAST(r AS INTEGER) AS rank, a, b
         |                    FROM bpn WHERE r >= 1 GROUP BY ALL),
         |mo AS MATERIALIZED (SELECT CAST(r AS INTEGER) AS rank, a, b
         |                    FROM bpo WHERE r >= 1 GROUP BY ALL),
         |${encCte("encn", "mn")},
         |${encCte("enco", "mo")}
         |${finalSel("retrained", "encn")}
         |UNION ALL
         |${finalSel("stale", "enco")}
         |ORDER BY vocab, doc_id""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val loc = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}/bpe_vocab_swap"
      graft.io.Warehouse.deleteRecursively(s, loc)
      val docs = Tables.documents(s, d)
      def trained(df: org.apache.spark.sql.DataFrame) =
        TextAnalysis.bpeTrain(df, "text", rounds = 256).zipWithIndex
          .map { case ((a, b, n), i) => (i + 1, a, b, n) }
          .toDF("rank", "lhs", "rhs", "n")
      // v1: the vocabulary trained before the arrival slice existed
      trained(docs.filter(col("doc_id") % 10 =!= 0)).write
        .format("graft-atomic").option("path", loc).mode("overwrite").save()
      // the SWAP: full-corpus retrain commits as version 2 (truncate)
      trained(docs).write
        .format("graft-atomic").option("path", loc).mode("overwrite").save()
      val vs = graft.sources.AtomicSink.versions(loc)
      require(vs.size == 2,
        s"vocabulary swap must retain exactly the stale and retrained versions, got $vs")
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("rank", IntegerType),
        StructField("lhs", StringType), StructField("rhs", StringType),
        StructField("n", LongType)))
      // serve from the STORED artifact (rank order restored from the
      // table — the collect is merge-table-grain, KB at any corpus size)
      def served(version: Option[Long]): Seq[(String, String)] = {
        val r = s.read.schema(schema).format("graft-atomic")
        version.fold(r)(v => r.option("version", v.toString)).load(loc)
          .orderBy(col("rank")).collect()
          .map(row => (row.getString(1), row.getString(2))).toSeq
      }
      val arrivals = docs.filter(col("doc_id") % 10 === 0)
      def encoded(tag: String, merges: Seq[(String, String)]) = {
        val enc = trim(TextAnalysis.bpeEncodeTrained(col("text"), merges))
        arrivals.select(col("doc_id"), enc.as("enc"))
          .select(lit(tag).as("vocab"), col("doc_id"),
            when(length(col("enc")) === 0, lit(0L))
              .otherwise(size(split(col("enc"), " +")).cast("long")).as("n_tokens"),
            when(length(col("enc")) === 0, lit(0L))
              .otherwise(size(array_distinct(split(col("enc"), " +"))).cast("long")).as("n_unique"),
            md5(col("enc")).as("enc_md5"))
      }
      encoded("retrained", served(None))
        .unionByName(encoded("stale", served(Some(vs.min))))
        .orderBy(col("vocab"), col("doc_id"))
    },

    // STREAMING artifact-version pickup (r17) — the question every
    // pipeline with a hot-swappable tokenizer must answer: which
    // vocabulary version encoded which micro-batch? A running
    // tokenization stream resolves the serving artifact PER BATCH
    // (foreachBatch reads the versioned table at batch-processing
    // time — the per-micro-batch config-lookup pattern): batch 1
    // drains while v1 (the pre-arrival vocabulary) serves, the
    // truncate-swap promotes the full-corpus retrain, batch 2 drains
    // under v2. Each output row carries the version that encoded it,
    // so the declared result pins BOTH the tokenization under each
    // vocabulary AND the swap landing exactly on the batch boundary —
    // a drain that read a stale artifact after the swap (cached frame,
    // missed manifest flip) or re-encoded batch 1 under v2 (broken
    // checkpoint) shifts rows across the version tag and hash-fails.
    // Scale: the artifact read is merge-table-grain per batch; the
    // encode is the same bounded row-local expression; arrivals ride
    // the streaming file source exactly as st8's gate.
    QDef("st23_stream_vocab_version_pickup", {
      s"""WITH RECURSIVE ${bpeTrainRecursiveCte(256, "", "bpn")},
         |${bpeTrainRecursiveCte(256, "WHERE doc_id % 10 <> 0", "bpo")},
         |mn AS MATERIALIZED (SELECT CAST(r AS INTEGER) AS rank, a, b
         |                    FROM bpn WHERE r >= 1 GROUP BY ALL),
         |mo AS MATERIALIZED (SELECT CAST(r AS INTEGER) AS rank, a, b
         |                    FROM bpo WHERE r >= 1 GROUP BY ALL),
         |${bpeEncRecursiveCte("enc1", "mo", "WHERE doc_id % 20 = 0")},
         |${bpeEncRecursiveCte("enc2", "mn", "WHERE doc_id % 10 = 0 AND doc_id % 20 <> 0")}
         |${bpeEncFinal("CAST(1 AS INTEGER) AS vocab_version", "enc1")}
         |UNION ALL
         |${bpeEncFinal("CAST(2 AS INTEGER) AS vocab_version", "enc2")}
         |ORDER BY vocab_version, doc_id""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val run = PackCore.streamRun.incrementAndGet()
      val base = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}"
      val vocLoc = s"$base/bpe_stream_vocab"
      graft.io.Warehouse.deleteRecursively(s, vocLoc)
      val in = java.nio.file.Files.createTempDirectory(s"graft_st23_in$run").toString
      val out = java.nio.file.Files.createTempDirectory(s"graft_st23_out$run").toString + "/t"
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_st23_ck$run").toString
      val docs = Tables.documents(s, d)
      def trained(df: org.apache.spark.sql.DataFrame) =
        TextAnalysis.bpeTrain(df, "text", rounds = 256).zipWithIndex
          .map { case ((a, b, n), i) => (i + 1, a, b, n) }
          .toDF("rank", "lhs", "rhs", "n")
      def commit(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("graft-atomic").option("path", vocLoc)
          .mode("overwrite").save()
      val vocSchema = StructType(Seq(StructField("rank", IntegerType),
        StructField("lhs", StringType), StructField("rhs", StringType),
        StructField("n", LongType)))
      val docSchema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      def drain(): Unit = {
        val q = graft.Session.derived(s, graft.Session.Stream)
          .readStream.schema(docSchema).parquet(in)
          .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            // the artifact resolves AT BATCH TIME: current manifest +
            // current version number, then the bounded encode — the
            // whole lookup is merge-table-grain however big the batch
            val ver = graft.sources.AtomicSink.versions(vocLoc).max
            val merges = s.read.schema(vocSchema).format("graft-atomic")
              .load(vocLoc).orderBy(col("rank")).collect()
              .map(r => (r.getString(1), r.getString(2))).toSeq
            val enc = trim(TextAnalysis.bpeEncodeTrained(col("text"), merges))
            batch.select(col("doc_id"), enc.as("enc"))
              .select(lit(ver.toInt).as("vocab_version"), col("doc_id"),
                when(length(col("enc")) === 0, lit(0L))
                  .otherwise(size(split(col("enc"), " +")).cast("long")).as("n_tokens"),
                when(length(col("enc")) === 0, lit(0L))
                  .otherwise(size(array_distinct(split(col("enc"), " +"))).cast("long")).as("n_unique"),
                md5(col("enc")).as("enc_md5"))
              .write.mode("append").parquet(out)
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      commit(trained(docs.filter(col("doc_id") % 10 =!= 0)))      // v1 serves
      PackCore.stageArrival(in,
        docs.filter(col("doc_id") % 20 === 0).select(col("doc_id"), col("text")), "b1")
      drain()                                                     // batch 1 under v1
      commit(trained(docs))                                       // the SWAP → v2
      PackCore.stageArrival(in,
        docs.filter(col("doc_id") % 10 === 0 && col("doc_id") % 20 =!= 0)
          .select(col("doc_id"), col("text")), "b2")
      drain()                                                     // batch 2 under v2
      Tables.siteRead(s, "PackExt:2349", out).orderBy(col("vocab_version"), col("doc_id"))
    },

    // Co-occurrence PMI (phrase mining / word-embedding pretraining):
    // token pairs within a ±2 window, pointwise mutual information from
    // exact global counts. Pair generation is the zip_with-shift trick
    // (two array ops per row, no per-position copies); the vocabulary
    // marginals broadcast; ln over exact integer ratios is the only
    // transcendental — Java Math.log and DuckDB ln agree bit-for-bit on
    // these inputs (same as text_entropy / text_lm_score).
    QDef("text_pmi_cooccur",
      """WITH t AS (SELECT string_split(text,' ') AS w FROM documents),
        |d1 AS (SELECT unnest(list_transform(range(1, length(w)), i -> [w[i], w[i+1]])) AS p FROM t),
        |d2 AS (SELECT unnest(list_transform(range(1, length(w)-1), i -> [w[i], w[i+2]])) AS p FROM t),
        |pairs AS (SELECT least(p[1], p[2]) AS a, greatest(p[1], p[2]) AS b
        |          FROM (SELECT p FROM d1 UNION ALL SELECT p FROM d2) WHERE p[1] <> p[2]),
        |uni AS (SELECT unnest(w) AS tok FROM t),
        |cab AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY a, b),
        |ca AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
        |np AS (SELECT count(*) AS np FROM pairs),
        |nt AS (SELECT count(*) AS nt FROM uni)
        |SELECT a, b, c_ab,
        |  round(ln((CAST(c_ab AS DOUBLE) / np.np)
        |    / ((CAST(x.c AS DOUBLE) / nt.nt) * (CAST(y.c AS DOUBLE) / nt.nt))), 6) AS pmi
        |FROM cab JOIN ca x ON cab.a = x.tok JOIN ca y ON cab.b = y.tok, np, nt
        |WHERE c_ab >= 100
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      val words = split(col("text"), " ")
      def shifted(k: Int) = zip_with(
        slice(words, lit(1), greatest(size(words) - k, lit(0))),
        slice(words, lit(1 + k), greatest(size(words) - k, lit(0))),
        (x, y) => struct(least(x, y).as("a"), greatest(x, y).as("b")))
      val docs = Tables.documents(s, d)
      val pairs = docs
        .select(explode(concat(shifted(1), shifted(2))).as("p"))
        .filter(col("p.a") =!= col("p.b"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
      val uni = docs.select(explode(words).as("tok"))
      // r18 (guide §2.4): the plan ran FIVE full tokenize+explode corpus
      // passes — pairs twice (co-occurrence counts + the np total), uni
      // three times (both unigram join sides + the nt total). The two
      // GROUP frames are vocabulary-grain (ca ~ |V|, cab ~ distinct
      // skip-bigrams ≪ corpus), so materialize each once per run and
      // DERIVE the totals from them: np = Σ c_ab over all pairs (count
      // of pair rows = sum of group counts, exact longs), nt = Σ c.
      // Two corpus passes remain — one per explode shape, the minimum.
      val ca = graft.ext.BoundedCache.perRun("PackExt:text_pmi_cooccur.ca",
        uni.groupBy(col("tok")).agg(count(lit(1)).as("c")))
      val cabAll = graft.ext.BoundedCache.perRun("PackExt:text_pmi_cooccur.cab",
        pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab")))
      val cab = cabAll.filter(col("c_ab") >= 100)
      cab
        .join(broadcast(ca.select(col("tok").as("a"), col("c").as("c_a"))), Seq("a"))
        .join(broadcast(ca.select(col("tok").as("b"), col("c").as("c_b"))), Seq("b"))
        .crossJoin(broadcast(cabAll.agg(sum(col("c_ab")).as("np"))))
        .crossJoin(broadcast(ca.agg(sum(col("c")).as("nt"))))
        .select(col("a"), col("b"), col("c_ab"),
          round(log((col("c_ab").cast("double") / col("np"))
            / ((col("c_a").cast("double") / col("nt"))
              * (col("c_b").cast("double") / col("nt")))), 6).as("pmi"))
        .orderBy(col("a"), col("b"))
    },

    // Gopher-style repetition signals per document: most-frequent-token
    // share + duplicate-bigram share — the standard repetition filters in
    // a training-data quality pipeline. Pure per-row array programs; no
    // shuffle but the presentation sort.
    QDef("text_repetition_stats",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |tc AS (SELECT doc_id, max(c) AS topc FROM
        |         (SELECT doc_id, w, count(*) AS c FROM
        |            (SELECT doc_id, unnest(l) AS w FROM t)
        |          GROUP BY doc_id, w) GROUP BY doc_id),
        |bg AS (SELECT doc_id, len(l) AS n,
        |         list_transform(range(1, len(l)), i -> array_to_string(l[i:i+1], ' ')) AS b
        |       FROM t)
        |SELECT bg.doc_id,
        |  round(CAST(tc.topc AS DOUBLE) / bg.n, 6) AS top_token_frac,
        |  round(1.0 - CAST(len(list_distinct(bg.b)) AS DOUBLE)
        |          / greatest(len(bg.b), 1), 6) AS dup_bigram_frac
        |FROM bg JOIN tc ON bg.doc_id = tc.doc_id
        |ORDER BY bg.doc_id""".stripMargin) { (s, d) =>
      val (topFrac, dupBg) = TextAnalysis.repetitionStats(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), topFrac.as("top_token_frac"),
          dupBg.as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    },

    // Shannon token entropy per document — the repetition-robust quality
    // signal. Terms fold in sorted-distinct-token order on both engines,
    // so the double summation is order-fixed and bit-exact (the oracle
    // folds from an explicit 0.0 head because DuckDB list_reduce seeds
    // with the first element).
    QDef("text_entropy",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |n AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |c AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
        |terms AS (SELECT c.doc_id,
        |            list(CAST(c.c AS DOUBLE) / n.n * ln(CAST(c.c AS DOUBLE) / n.n)
        |                 ORDER BY c.w) AS ts
        |          FROM c JOIN n ON c.doc_id = n.doc_id GROUP BY c.doc_id)
        |SELECT doc_id,
        |  round(-list_reduce(list_prepend(0.0, ts), (a, b) -> a + b), 6) AS entropy
        |FROM terms ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenEntropy(col("text")).as("entropy"))
        .orderBy(col("doc_id"))
    },

    // Product-quantization code assignment (IVF-PQ's compression half):
    // 64 dims → 8 subspaces × 1 small code each — the layout that lets a
    // 100 TB corpus keep its ANN index in memory. Codebook broadcast,
    // decimal-quantized distance terms (order-free sums), argmin through
    // the bounded-heap TopKPerKey operator.
    QDef("emb_pq_codes",
      """WITH c AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
        |           FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
        |d AS (SELECT e.vec_id, CAST((t.i - 1) // 8 AS INTEGER) AS sub, c.label,
        |        sum(CAST(floor((CAST(e.embedding[t.i] AS DOUBLE) - c.m)
        |                       * (CAST(e.embedding[t.i] AS DOUBLE) - c.m) * 1e12 + 0.5) / 1e12
        |                 AS DECIMAL(28,12))) AS dist
        |      FROM embeddings e, range(1, 65) t(i) JOIN c ON c.i = t.i
        |      GROUP BY e.vec_id, sub, c.label),
        |r AS (SELECT vec_id, sub, label,
        |        row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, label) AS rn
        |      FROM d)
        |SELECT vec_id, sub, label AS code FROM r WHERE rn = 1
        |ORDER BY vec_id, sub""".stripMargin) { (s, d) =>
      Similarity.pqCodes(Tables.embeddings(s, d), dims = 64, nSub = 8)
        .orderBy(col("vec_id"), col("sub"))
    },

    // ADC top-k over the PQ codes (the IVF-PQ scan): per-query lookup
    // tables of exact subspace distances, corpus vectors reduced to 8
    // table lookups each — the memory-bandwidth-bound ANN plan at 100 TB.
    // rank ties on the 6dp distance break by neighbor id on both engines.
    QDef("ann_pq_adc_topk",
      s"""WITH $pqAdcRankSql
         |SELECT qid, nid, adist, rank FROM rr WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      // serve from the train-once code table + codebook: the timed path
      // is the ADC scan, never the corpus encoding (r8 VERDICT #3)
      Similarity.pqAdcTopKStored(persistedPqCodes(s, d),
          persistedCentroids(s, d), e.filter(col("vec_id") < 10),
          dims = 64, nSub = 8, k = 5)
        .orderBy(col("qid"), col("rank"))
    },

    // Recall@10 of single-probe IVF against brute-force ground truth —
    // the evaluation loop that tunes every ANN recall/cost dial. Both
    // searches run their production plans (broadcast queries, codegen'd
    // dot products); the recall join itself touches only k·|queries|
    // rows. Per-query recall, zero-hit queries included.
    QDef("ann_recall_eval",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qb FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT q.qid, e.vec_id AS nid, round(${cosSql("q.qe", "e.embedding")}, 6) AS cos
         |      FROM q, embeddings e WHERE e.vec_id <> q.qid),
         |bt AS (SELECT qid, nid FROM (SELECT qid, nid,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn FROM c)
         |       WHERE rn <= 10),
         |ci AS (SELECT q.qid, e.vec_id AS nid, round(${cosSql("q.qe", "e.embedding")}, 6) AS cos
         |       FROM q JOIN embeddings e ON e.label = q.qb AND e.vec_id <> q.qid),
         |iv AS (SELECT qid, nid FROM (SELECT qid, nid,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn FROM ci)
         |       WHERE rn <= 10)
         |SELECT bt.qid, CAST(count(iv.nid) AS BIGINT) AS n_hit,
         |  round(CAST(count(iv.nid) AS DOUBLE) / 10, 6) AS recall
         |FROM bt LEFT JOIN iv ON bt.qid = iv.qid AND bt.nid = iv.nid
         |GROUP BY bt.qid ORDER BY bt.qid""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
      // truth feeds recallAtK's two consumers; materialize the ≤ |Q|·k
      // row set once instead of running the brute corpus scan twice
      // (perRun: cluster-safe persist, evicted next run — see BoundedCache)
      Similarity.recallAtK(
          graft.ext.BoundedCache.perRun("PackExt:ann_recall_eval.truth",
            Similarity.bruteTopK(e, q, 10)),
          Similarity.ivfTopK(e, q, "label", 10), k = 10)
        .orderBy(col("qid"))
    },

    // Exact re-rank REFINEMENT over the ADC retriever (FAISS's refine
    // stage, the missing rung between quantized scan and exact search):
    // ADC fetches top-(k·4) candidates, then ONLY those 40 pairs per
    // query are re-scored with the exact float cosine and the final
    // top-5 ranked from the refined scores. At 100 TB the exact
    // arithmetic touches |Q|·k·c rows — the candidate set broadcasts,
    // the corpus joins it map-side to fetch full-precision vectors —
    // while quantization error is confined to the candidate boundary.
    QDef("ann_pq_refine_topk",
      s"""WITH $pqAdcRankSql,
         |cand AS (SELECT qid, nid FROM rr WHERE rank <= 20),
         |ex AS (SELECT cand.qid, cand.nid,
         |         round(${cosSql("q.qe", "e.embedding")}, 6) AS cos
         |       FROM cand JOIN q ON q.qid = cand.qid
         |       JOIN embeddings e ON e.vec_id = cand.nid),
         |fr AS (SELECT qid, nid, cos,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
         |       FROM ex)
         |SELECT qid, nid, cos, rank FROM fr WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 10)
      val cand = Similarity.pqAdcTopKStored(persistedPqCodes(s, d),
        persistedCentroids(s, d), qs, dims = 64, nSub = 8, k = 20)
      Similarity.refineTopK(cand, e, qs, k = 5)
        .orderBy(col("qid"), col("rank"))
    },

    // The same refinement tail over the int8 scalar-quantized retriever:
    // SQ8 integer dots select top-20 candidates, the exact float cosine
    // re-ranks them to the final top-5. Same broadcast/candidate-bounded
    // cost shape as ann_pq_refine_topk; together they pin the refine
    // stage over BOTH quantizer families.
    QDef("ann_sq8_refine_topk",
      s"""WITH $sq8ScoreSql,
         |cand AS (SELECT qid, nid FROM (SELECT qid, nid,
         |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn FROM sc)
         |         WHERE rn <= 20),
         |qv AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |ex AS (SELECT cand.qid, cand.nid,
         |         round(${cosSql("qv.qe", "e.embedding")}, 6) AS cos
         |       FROM cand JOIN qv ON qv.qid = cand.qid
         |       JOIN embeddings e ON e.vec_id = cand.nid),
         |fr AS (SELECT qid, nid, cos,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank
         |       FROM ex)
         |SELECT qid, nid, cos, rank FROM fr WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val cand = graft.ops.Ops.topKPerKey(sq8Scored(s, d), Seq("qid"),
        Seq(("score", true), ("nid", false)), 20)
      Similarity.refineTopK(cand, e, e.filter(col("vec_id") < 10), k = 5)
        .orderBy(col("qid"), col("rank"))
    },

    // Recall@5 BEFORE vs AFTER refinement against the exact ground
    // truth — the measurement that justifies the refine stage: raw ADC
    // top-5 vs (ADC top-20 → exact re-rank → top-5), per query. The ADC
    // top-5 is the rank≤5 prefix of the same top-20 candidate fetch, so
    // the quantized scan runs ONCE. Refinement can only fix rank errors
    // WITHIN the candidate boundary, so recall_refined ≥ recall_adc
    // pointwise and both are ≤ 1.
    QDef("ann_recall_refine_eval",
      s"""WITH $pqAdcRankSql,
         |truth AS (SELECT qid, nid FROM (
         |    SELECT q.qid, e.vec_id AS nid,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY round(${cosSql("q.qe", "e.embedding")}, 6) DESC, e.vec_id) AS rn
         |    FROM q, embeddings e WHERE e.vec_id <> q.qid)
         |  WHERE rn <= 5),
         |adc5 AS (SELECT qid, nid FROM rr WHERE rank <= 5),
         |cand AS (SELECT qid, nid FROM rr WHERE rank <= 20),
         |ref5 AS (SELECT qid, nid FROM (
         |    SELECT cand.qid, cand.nid,
         |      row_number() OVER (PARTITION BY cand.qid
         |        ORDER BY round(${cosSql("q.qe", "e.embedding")}, 6) DESC, cand.nid) AS rn
         |    FROM cand JOIN q ON q.qid = cand.qid
         |    JOIN embeddings e ON e.vec_id = cand.nid)
         |  WHERE rn <= 5)
         |SELECT t.qid,
         |  CAST(count(a.nid) AS BIGINT) AS n_hit_adc,
         |  round(CAST(count(a.nid) AS DOUBLE) / 5, 6) AS recall_adc,
         |  CAST(count(r.nid) AS BIGINT) AS n_hit_refined,
         |  round(CAST(count(r.nid) AS DOUBLE) / 5, 6) AS recall_refined
         |FROM truth t
         |LEFT JOIN adc5 a ON t.qid = a.qid AND t.nid = a.nid
         |LEFT JOIN ref5 r ON t.qid = r.qid AND t.nid = r.nid
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 10)
      // truth feeds two recallAtK calls and cand20 feeds the adc5 prefix
      // AND the refine join — both are ≤ |Q|·k(·4) rows by construction,
      // while their pipelines are full-corpus scans (brute cosine; ADC
      // over the stored codes). Materialize each once per run instead of
      // re-running the corpus scan per consumer (the plan went 16 parquet
      // scans → 6; at 100 TB each avoided recompute is a corpus pass).
      // perRun: cluster-safe persist, evicted next run — see BoundedCache.
      val truth = graft.ext.BoundedCache.perRun(
        "PackExt:ann_recall_refine_eval.truth", Similarity.bruteTopK(e, qs, 5))
      val cand20 = graft.ext.BoundedCache.perRun(
        "PackExt:ann_recall_refine_eval.cand20",
        Similarity.pqAdcTopKStored(persistedPqCodes(s, d),
          persistedCentroids(s, d), qs, dims = 64, nSub = 8, k = 20))
      val adc5 = cand20.filter(col("rank") <= 5)
      val refined5 = Similarity.refineTopK(cand20, e, qs, k = 5)
      val before = Similarity.recallAtK(truth, adc5, 5)
        .withColumnRenamed("n_hit", "n_hit_adc")
        .withColumnRenamed("recall", "recall_adc")
      val after = Similarity.recallAtK(truth, refined5, 5)
        .withColumnRenamed("n_hit", "n_hit_refined")
        .withColumnRenamed("recall", "recall_refined")
      before.join(after, Seq("qid")).orderBy(col("qid"))
    },

    // Train/eval decontamination (the GPT-3/Llama pretraining hygiene
    // step): docs whose distinct 5-gram shingles overlap the eval split
    // (doc_id % 25 = 0 stands in for the benchmark corpus) are flagged.
    // The eval gram set is DISTINCT-collapsed and broadcast — the 100 TB
    // train side never shuffles by gram; one explode, one broadcast
    // join, one doc-keyed hash agg.
    QDef("decon_ngram_overlap",
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, length(l)-3),
        |        i -> array_to_string(l[i:i+4], ' ')))) AS gram FROM base),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 25 = 0),
        |tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 25 <> 0)
        |SELECT tr.doc_id, count(*) AS n_grams,
        |  CAST(count(ev.gram) AS BIGINT) AS n_overlap,
        |  count(ev.gram) > 0 AS contaminated
        |FROM tr LEFT JOIN ev ON tr.gram = ev.gram
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextDedup.contamination(
          docs.filter(col("doc_id") % 25 =!= 0),
          docs.filter(col("doc_id") % 25 === 0),
          "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    },

    // Surgical decontamination: REMOVE the eval-overlapping 5-gram spans
    // from each training doc and re-stitch the survivors (the
    // exact-substring decontamination stage run against benchmarks),
    // instead of flagging whole docs. Same broadcast asymmetry as
    // decon_ngram_overlap — the train side never shuffles by gram — plus
    // the span rebuild from dedup_exact_substring.
    QDef("decon_span_removal",
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(range(1, greatest(length(l) - 3, 1))) - 1 AS gpos,
        |        unnest(list_transform(range(1, greatest(length(l) - 3, 1)), i -> array_to_string(l[i:i+4], ' '))) AS gram
        |      FROM t),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 25 = 0),
        |cov AS (SELECT DISTINCT doc_id, gpos + o AS pos
        |        FROM g, range(5) s(o)
        |        WHERE doc_id % 25 <> 0 AND gram IN (SELECT gram FROM ev)),
        |toks AS (SELECT doc_id, unnest(range(1, length(l) + 1)) - 1 AS pos, unnest(l) AS w
        |         FROM t WHERE doc_id % 25 <> 0),
        |kept AS (SELECT k.doc_id, k.pos, k.w FROM toks k
        |         WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = k.doc_id AND c.pos = k.pos)),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |               md5(array_to_string(list(w ORDER BY pos), ' ')) AS cleaned_md5
        |        FROM kept GROUP BY doc_id)
        |SELECT tr.doc_id, CAST(length(tr.l) AS BIGINT) AS n_tokens,
        |       CASE WHEN length(tr.l) > 1048576 THEN CAST(length(tr.l) AS BIGINT)
        |            ELSE COALESCE(a.n_kept, 0) END AS n_kept,
        |       CASE WHEN length(tr.l) > 1048576 THEN md5(array_to_string(tr.l, ' '))
        |            ELSE COALESCE(a.cleaned_md5, md5('')) END AS cleaned_md5,
        |       length(tr.l) > 1048576 AS over_length
        |FROM (SELECT doc_id, l FROM t WHERE doc_id % 25 <> 0) tr
        |LEFT JOIN agg a USING (doc_id)
        |ORDER BY tr.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextDedup.decontaminateSpans(
          docs.filter(col("doc_id") % 25 =!= 0),
          docs.filter(col("doc_id") % 25 === 0),
          "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    },

    // Quantile-gated quality filter (the FineWeb/Gopher keep-rule shape):
    // keep docs at or above their SOURCE's 25th-percentile quality — a
    // per-domain adaptive threshold instead of one global constant. The
    // cut uses the DISCRETE quantile (an actual data value), so the
    // boundary comparison is an exact double equality on both engines;
    // interpolated quantiles land between data points and a 1-ulp formula
    // difference could flip membership. One window pass for the ranked
    // position, a broadcast of |sources| thresholds, and a scan-speed
    // filter.
    QDef("text_quality_filter_quantile",
      """WITH b AS (SELECT doc_id, source, string_split(text,' ') AS l FROM documents),
        |q AS (SELECT doc_id, source,
        |        round(0.4 * (length(list_distinct(l))*1.0/length(l))
        |            + 0.4 * (1.0 - length(list_filter(l, t -> t IN ('the','a','of','and','to','is')))*1.0/length(l))
        |            + 0.2 * least(1.0, length(l)/50.0), 6) AS quality FROM b),
        |p AS (SELECT source, quantile_disc(quality, 0.25) AS p25 FROM q GROUP BY source)
        |SELECT q.doc_id, q.source, q.quality, p.p25
        |FROM q JOIN p USING (source) WHERE q.quality >= p.p25
        |ORDER BY q.doc_id""".stripMargin) { (s, d) =>
      val q = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      val byS = Window.partitionBy(col("source"))
      val p = q
        .withColumn("rn", row_number().over(byS.orderBy(col("quality"), col("doc_id"))))
        .withColumn("cnt", count(lit(1)).over(byS))
        .groupBy(col("source"))
        .agg(max(when(col("rn") === ceil(lit(0.25) * col("cnt")).cast("long"),
          col("quality"))).as("p25"))
      q.join(broadcast(p), Seq("source"))
        .filter(col("quality") >= col("p25"))
        .select(col("doc_id"), col("source"), col("quality"), col("p25"))
        .orderBy(col("doc_id"))
    },

    // CCNet-style perplexity bucketing — the classic head/middle/tail
    // split: per-source discrete tertiles of the LM score (lower avg_nll
    // = more fluent), every doc labeled by which band it falls in (CCNet
    // keeps head+middle for pretraining). Same cross-engine quantile
    // discipline as text_quality_filter_quantile: ceil(q·n) rank under
    // (value, doc_id) order == DuckDB quantile_disc; LM scores ride the
    // 6dp-rounded decimal NLL fold of text_lm_score. Scale: the ranking
    // window is per-source (bounded fan-in); at 100 TB swap the exact
    // tertiles for approx_percentile per source — the label join is
    // already a broadcast of |sources| rows.
    QDef("text_ccnet_buckets",
      """WITH words AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM words),
        |nll AS (SELECT w, CAST(round(-ln(count(*) / t.total), 6) AS DECIMAL(18,6)) AS nll
        |        FROM words, tot t GROUP BY w, t.total),
        |sc AS (SELECT d.doc_id, round(CAST(sum(n.nll) AS DOUBLE) / count(*), 6) AS avg_nll
        |       FROM words d JOIN nll n USING (w) GROUP BY d.doc_id),
        |j AS (SELECT s.doc_id, doc.source, s.avg_nll
        |      FROM sc s JOIN documents doc USING (doc_id)),
        |p AS (SELECT source, quantile_disc(avg_nll, 0.35) AS p35,
        |             quantile_disc(avg_nll, 0.70) AS p70
        |      FROM j GROUP BY source)
        |SELECT j.doc_id, j.source, j.avg_nll,
        |  CASE WHEN j.avg_nll <= p.p35 THEN 'head'
        |       WHEN j.avg_nll <= p.p70 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM j JOIN p USING (source) ORDER BY j.doc_id""".stripMargin) { (s, d) =>
      // r18 (guide §2.4): sc feeds BOTH the per-source percentile frame
      // and the final bucket join, and each execution of sc is the whole
      // lmScore pipeline (two corpus explodes + the vocabulary join) —
      // the plan held 10 parquet scans. sc is doc-grain (doc_id, source,
      // avg_nll); materialize it once per run and both consumers read the
      // shared frame: one lmScore execution instead of two.
      val sc = graft.ext.BoundedCache.perRun("PackExt:text_ccnet_buckets.sc",
        TextAnalysis.lmScore(Tables.documents(s, d), "doc_id", "text")
          .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
            Seq("doc_id")))
      val byS = Window.partitionBy(col("source"))
      val p = sc
        .withColumn("rn", row_number().over(byS.orderBy(col("avg_nll"), col("doc_id"))))
        .withColumn("cnt", count(lit(1)).over(byS))
        .groupBy(col("source"))
        .agg(
          max(when(col("rn") === ceil(lit(0.35) * col("cnt")).cast("long"),
            col("avg_nll"))).as("p35"),
          max(when(col("rn") === ceil(lit(0.70) * col("cnt")).cast("long"),
            col("avg_nll"))).as("p70"))
      sc.join(broadcast(p), Seq("source"))
        .select(col("doc_id"), col("source"), col("avg_nll"),
          when(col("avg_nll") <= col("p35"), "head")
            .when(col("avg_nll") <= col("p70"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    },

    // Domain mixture weights (DoReMi-style, sublinear exponent): per
    // source, sampling weight ∝ n_tokens^0.5 normalized over sources —
    // sqrt rather than the paper's ^0.7 because IEEE sqrt is correctly
    // rounded (identical in every engine) while pow differs in the last
    // ulp across libm implementations. Weights sum as 6dp DECIMALs so
    // the normalizing total is order-free.
    QDef("mixture_domain_weights",
      """WITH s AS (SELECT source, count(*) AS n_docs,
        |             sum(length(string_split(text,' '))) AS n_tokens
        |           FROM documents GROUP BY source),
        |t AS (SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        |        CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w FROM s)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(w AS DOUBLE) / CAST((SELECT sum(w) FROM t) AS DOUBLE), 6) AS weight
        |FROM t ORDER BY source""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .withColumn("w", round(sqrt(col("n_tokens").cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      t.crossJoin(broadcast(t.agg(sum(col("w")).as("tw"))))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("w").cast("double") / col("tw").cast("double"), 6).as("weight"))
        .orderBy(col("source"))
    },

    // Duplicate-shingle fraction (the RefinedWeb/Dolma duplication
    // profile): per doc, the share of its distinct 3-gram shingles that
    // occur in ≥2 documents — boilerplate that survives exact dedup.
    // One explode + one gram-keyed window count + one doc-keyed agg;
    // no self-join.
    QDef("dedup_shingle_dupfrac",
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, length(l)-1),
        |        i -> array_to_string(l[i:i+2], ' ')))) AS gram FROM base),
        |w AS (SELECT doc_id, count(*) OVER (PARTITION BY gram) AS df FROM g)
        |SELECT doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_frac
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextDedup.duplicateShingleFraction(Tables.documents(s, d),
          "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    },

    // Token-budget curation: per source, admit docs in doc_id order while
    // the running token total stays within budget — the mixture
    // construction step when targets are TOKENS, not documents (domain
    // weights land as per-source budgets). The cumsum is the two-level
    // chunked scan (Ops.chunkedCumsum): a plain per-source window would
    // serialize each source onto ONE task at any corpus size.
    QDef("mixture_token_budget",
      """WITH d AS (SELECT source, doc_id, length(string_split(text,' ')) AS toks FROM documents),
        |c AS (SELECT source, doc_id, toks,
        |        sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |                        ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM c WHERE cum <= 2000 GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      graft.ops.Ops.chunkedCumsum(
          Tables.documents(s, d)
            .select(col("source"), col("doc_id"),
              size(split(col("text"), " ")).cast("long").as("toks")),
          "source", "doc_id", "toks", "cum")
        .filter(col("cum") <= 2000)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).cast("long").as("n_tokens"))
        .orderBy(col("source"))
    },

    // Exact-substring (span-level) dedup — the RefinedWeb/MassiveText
    // stage that EDITS documents: token spans covered by a corpus-
    // duplicate 5-gram are removed and the survivors re-stitched in
    // order; the cleaned text is md5-fingerprinted for the compare.
    // One gram window + bounded cover explode + doc-keyed rebuild — no
    // self-join anywhere (see TextDedup.exactSubstringDedup).
    QDef("dedup_exact_substring",
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(range(1, greatest(length(l) - 3, 1))) - 1 AS gpos,
        |        unnest(list_transform(range(1, greatest(length(l) - 3, 1)), i -> array_to_string(l[i:i+4], ' '))) AS gram
        |      FROM t),
        |w AS (SELECT doc_id, gpos, count(*) OVER (PARTITION BY gram) AS df FROM g),
        |cov AS (SELECT DISTINCT doc_id, gpos + o AS pos FROM w, range(5) s(o) WHERE df >= 2),
        |toks AS (SELECT doc_id, unnest(range(1, length(l) + 1)) - 1 AS pos, unnest(l) AS w FROM t),
        |kept AS (SELECT k.doc_id, k.pos, k.w FROM toks k
        |         WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = k.doc_id AND c.pos = k.pos)),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |               md5(array_to_string(list(w ORDER BY pos), ' ')) AS cleaned_md5
        |        FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(length(t.l) AS BIGINT) AS n_tokens,
        |       CASE WHEN length(t.l) > 1048576 THEN CAST(length(t.l) AS BIGINT)
        |            ELSE COALESCE(a.n_kept, 0) END AS n_kept,
        |       CASE WHEN length(t.l) > 1048576 THEN NULL
        |            ELSE round(1.0 - COALESCE(a.n_kept, 0) / length(t.l), 6) END AS dup_frac,
        |       CASE WHEN length(t.l) > 1048576 THEN md5(array_to_string(t.l, ' '))
        |            ELSE COALESCE(a.cleaned_md5, md5('')) END AS cleaned_md5,
        |       length(t.l) > 1048576 AS over_length
        |FROM t LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextDedup.exactSubstringDedup(Tables.documents(s, d), "doc_id", "text",
          n = 5, minCount = 2)
        .orderBy(col("doc_id"))
    },

    // BM25 retrieval (Robertson/Sparck-Jones, k1=1.2 b=0.75) — the sparse
    // half most retrieval stacks actually run (TF-IDF cosine is the
    // classroom form; BM25 is the production form, and the RRF fusion
    // query's natural upgrade). Query docs (doc_id < 10) probe the
    // corpus: the corpus-side term frequencies are the 100 TB side and
    // are touched exactly once; the query terms are DISTINCT-collapsed
    // and BROADCAST so the corpus never shuffles by term for the probe
    // (decontamination precedent). Per-(query,doc,term) contributions
    // are all-double with the same expression shape as the oracle, then
    // 1e6-quantized into DECIMAL sums so the per-doc score is
    // order-free on any partitioning (NOTES exactness rule 1/7).
    QDef("retrieval_bm25_topk",
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        |words AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM corpus),
        |tf AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf FROM words GROUP BY doc_id, w),
        |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM words GROUP BY doc_id),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
        |df AS (SELECT w, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM words GROUP BY w),
        |qterms AS (SELECT DISTINCT doc_id AS qid, w FROM words WHERE doc_id < 10),
        |contrib AS (
        |  SELECT q.qid, t.doc_id,
        |    CAST(floor(ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
        |        * (t.tf * 2.2 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)))
        |        * 1e6 + 0.5) / 1e6 AS DECIMAL(28,12)) AS c
        |  FROM tf t JOIN qterms q ON t.w = q.w
        |    JOIN df f ON t.w = f.w JOIN dl l ON t.doc_id = l.doc_id, stats s),
        |scores AS (SELECT qid, doc_id, CAST(sum(c) AS DOUBLE) AS score
        |           FROM contrib GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, score,
        |        CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        |      FROM scores)
        |SELECT qid, doc_id, score, rank FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val D12 = org.apache.spark.sql.types.DecimalType(28, 12)
      val corpus = Tables.documents(s, d).filter(col("doc_id") < 300)
      val words = corpus.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      // corpus-side stats: one pass over words, reused by every probe
      val wordsP = graft.ext.BoundedCache.persist("pack.bm25.words", words)
      val tf = wordsP.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val dl = wordsP.groupBy(col("doc_id")).agg(count(lit(1)).cast("double").as("dl"))
      val stats = dl.agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))
      val dfr = wordsP.groupBy(col("w")).agg(countDistinct(col("doc_id")).cast("double").as("df"))
      val qterms = wordsP.filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), col("w")).distinct()
      // The full-vocabulary df table is corpus-sized — never broadcast
      // it. Prune it to the query terms FIRST (qterms is the small side,
      // broadcast into the df scan), and broadcast only the pruned
      // (qid, term, df) probe table into the tf scan.
      val qdf = dfr.join(broadcast(qterms), Seq("w"))
        .select(col("qid"), col("w"), col("df"))
      // identical double-expression shape as the oracle, then quantize
      val contrib = tf
        .join(broadcast(qdf), Seq("w"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("qid"), col("doc_id"),
          (floor(
            log(lit(1) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
              * (col("tf") * lit(2.2) / (col("tf") + lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))))
              * lit(1e6) + lit(0.5)) / lit(1e6)).cast(D12).as("c"))
      val scores = contrib.groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("c")).cast("double").as("score"))
      val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
      scores.withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 5)
        .orderBy(col("qid"), col("rank"))
    }
  )
}
