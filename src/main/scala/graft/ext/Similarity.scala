package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge.{column, expression}
import graft.plans.DotProduct

/** Similarity search over embedding columns (`Array[Float]`) — the
  * approximate-nearest-neighbor surface a training-data pipeline needs
  * (SURVEY.md §7.1 item 8; BASELINE.json north star).
  *
  * Design for 100 TB: `bruteTopK` is the exact baseline — O(|Q|·|N|) dot
  * products with the query set broadcast, so the corpus side stays
  * embarrassingly parallel and never shuffles. The scale path is
  * `ivfTopK`: restrict each query to its coarse-quantizer bucket
  * (here the precomputed `label` column; in production, argmin over k
  * centroids — same plan shape), turning the cross join into a bucketed
  * equi-join that prunes the candidate set by the bucket fanout.
  *
  * All arithmetic is double-precision sequential left folds so results are
  * bit-comparable with the DuckDB `list_reduce` oracle.
  */
object Similarity {

  /** Elementwise-double dot product via `zip_with` + sequential
    * `aggregate` fold — the pure-built-in form (higher-order functions are
    * interpreted per element; prefer [[nativeDot]] on hot paths). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Same arithmetic as [[dot]] through the codegen'd graft.plans.DotProduct
    * Catalyst expression (bit-identical results, one tight loop per row). */
  def nativeDot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** Exact cosine similarity between two float-array columns. Cosine is
    * undefined for a zero-norm vector (the all-zeros embedding a broken
    * encoder emits, or an empty array): the result is NULL, not an ANSI
    * DIVIDE_BY_ZERO error — one degenerate row must not kill a 100 TB
    * scoring job — and NULL never outranks a real candidate (both the
    * bounded-heap top-k and the rank window order descending NULLS LAST,
    * and threshold filters drop it under SQL 3VL). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(sqrt(dot(a, a)) * sqrt(dot(b, b)), lit(0.0))

  /** The zero-norm guard of [[cosine]] for the retrievers' precomputed
    * norm columns: NULL cosine when either norm is zero. */
  private def cosOver(dotCol: Column, qn: Column, nn: Column): Column =
    round(dotCol / nullif(qn * nn, lit(0.0)), 6)

  /** Shared rerank tail for every ANN variant: keep the top k scored
    * candidates per query through the custom bounded-heap operator
    * (graft.plans.TopKPerKey — one exchange, no partition sort), then
    * compute ranks with a window over only the ≤ k survivors per query.
    * The window form alone would fully sort every partition of the scored
    * cross/bucket join (|Q|·candidates rows) to keep k each; the heap
    * prunes first, so the sort the window pays is k·|Q| rows total.
    * Selection is identical: same (cos DESC, nid) order, same tiebreak. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val pruned = graft.ops.Ops.topKPerKey(
      scored, Seq("qid"), Seq(("cos", true), ("nid", false)), k)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    pruned.withColumn("rank", row_number().over(w))
  }

  /** Brute-force exact top-k: for every row of `queries` (small, broadcast)
    * rank all of `corpus` by cosine. Norms are computed once per vector in
    * the projections feeding the join (1 dot per pair instead of 3 — the
    * values are bitwise identical to inline sqrt(dot(x,x)), so oracle
    * comparisons are unaffected). Deterministic tiebreak on neighbor id. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val nd = nativeDot(_, _)
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      sqrt(nd(col("embedding"), col("embedding"))).as("qn")))
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("ne"),
      sqrt(nd(col("embedding"), col("embedding"))).as("nn"))
    val scored = c.join(q, col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        cosOver(nd(col("qe"), col("ne")), col("qn"), col("nn")).as("cos"))
    rankTopK(scored, k)
  }

  /** Hard-negative mining for contrastive training: for every query
    * vector, the top-k most-similar corpus vectors whose `label` DIFFERS
    * from the query's — the "hard" negatives an embedding trainer pairs
    * with each anchor (easy negatives are random; hard ones are the
    * near-misses that actually move the loss). Same plan shape as
    * [[bruteTopK]] — the query block (with its labels) broadcasts, the
    * corpus never shuffles, and the label-mismatch predicate rides the
    * broadcast join — plus the bounded-heap top-k tail. At 100 TB the
    * candidate generation upgrades to the IVF/LSH bucketed forms exactly
    * like the ANN queries; the mismatch filter composes unchanged. */
  def hardNegativeTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val nd = nativeDot(_, _)
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("label").as("ql"),
      col("embedding").as("qe"), sqrt(nd(col("embedding"), col("embedding"))).as("qn")))
    val c = corpus.select(col("vec_id").as("nid"), col("label").as("neg_label"),
      col("embedding").as("ne"), sqrt(nd(col("embedding"), col("embedding"))).as("nn"))
    val scored = c.join(q, col("neg_label") =!= col("ql"))
      .select(col("qid"), col("nid"), col("neg_label"),
        cosOver(nd(col("qe"), col("ne")), col("qn"), col("nn")).as("cos"))
    rankTopK(scored, k).select(col("qid"), col("nid"), col("neg_label"), col("cos"), col("rank"))
  }

  /** Learn coarse-quantizer centroids as the element-wise mean embedding
    * per bucket (k-means step with assignments given; iterate with
    * [[assignToCentroids]] for full Lloyd's). Output long form
    * (bucket, dim, mean) — shuffle is bounded by buckets × dims. */
  def centroids(corpus: DataFrame, bucketCol: String): DataFrame =
    corpus.select(col(bucketCol), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col(bucketCol), (col("pos") + 1).as("i"))
      .agg(round(avg(col("v").cast("double")), 6).as("mean"))

  /** Quantizer-staleness metric for the train-once IVF index — the
    * re-train trigger the persisted-centroid serving path needs
    * (nothing else detects that the stored quantizer has gone stale as
    * the corpus distribution moves). Per stored bucket:
    *   `base_dist` — mean squared L2 distance of the TRAINING population
    *     to its trained centroid (assignment = `bucketCol`, the label the
    *     quantizer was fit on): the reference error frozen at train time;
    *   `cur_dist` — the same metric for a CURRENT batch assigned by the
    *     stored SERVING rule (argmax 6dp-rounded centroid dot, smallest
    *     bucket on ties — identical to [[ivfMultiProbeTopK]]'s probe, so
    *     the drift monitor measures exactly what serving does);
    *   `drift_ratio` = cur/base (NULL for a zero-base, no-training-
    *     population, or unprobed bucket); `retrain` = ratio > `threshold`,
    *     falling back to cur_dist > 0 for a bucket with no usable
    *     reference error (base_dist = 0, or base_dist NULL because the
    *     stored quantizer has a bucket with no assessable training
    *     population), false for an unprobed one.
    * Numerics: per-dim terms quantized to 12dp and summed as
    * DECIMAL(28,12) (order-free, engine-invariant — the [[pqCodes]]
    * contract); bucket means divide the exact decimal sum, cast to
    * double, by the count, rounded to 6dp.
    * Scale: the centroid table broadcasts twice (long form for the
    * distance join, one array row per bucket for probe scoring); each
    * side is a narrow explode + two-level aggregation (per-vector
    * partial, then per-bucket), so the training corpus never shuffles by
    * anything but the final bucket-count exchange and the current side
    * is arrival-sized. */
  /** (vec_id, b, embedding) → (b, n, d): per-bucket count + mean
    * 12dp-quantized squared L2 distance to the bucket's centroid in
    * `cents`. The decimal sum is order-free (engine-invariant); the
    * centroid long form broadcasts. Shared by [[quantizerDrift]] and
    * [[retrainEval]]. */
  private def bucketMeanDist(vecs: DataFrame, cents: DataFrame,
                             bucketCol: String): DataFrame = {
    val centLong = broadcast(
      cents.select(col(bucketCol).as("cb"), col("i"), col("mean")))
    val diff = col("v").cast("double") - col("mean")
    // family NULL-embedding rule (r14, [[assignToCentroids]]): a NULL
    // embedding is UNASSESSABLE — explicitly excluded from both the count
    // and the mean rather than implicitly vanishing through the explode
    // (a wrong-dimension vector still raises no rows only for its missing
    // dims — the serving path's graft_dot length contract fails it first)
    val perVec = vecs.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("b"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .join(centLong, col("b") === col("cb") && col("pos") + 1 === col("i"))
      .select(col("vec_id"), col("b"),
        (floor(diff * diff * lit(1e12) + lit(0.5)) / lit(1e12))
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)).as("t"))
      .groupBy(col("vec_id"), col("b")).agg(sum(col("t")).as("dist"))
    perVec.groupBy(col("b"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("dist")).cast("double") / count(lit(1)), 6).as("d"))
  }

  /** Assign `batch` to buckets by the stored SERVING rule (argmax
    * 6dp-rounded centroid dot, smallest bucket on ties — identical to
    * [[ivfMultiProbeTopK]]'s probe, nprobe=1): (vec_id, b, embedding). */
  private def servingAssign(batch: DataFrame, cents: DataFrame,
                            bucketCol: String): DataFrame = {
    val nd = nativeDot(_, _)
    val byBucket = cents.groupBy(col(bucketCol))
      .agg(array_sort(collect_list(struct(col("i"), col("mean")))).as("c"))
      .select(col(bucketCol).as("pb"),
        transform(col("c"), x => x.getField("mean")).as("cvec"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("pb"))
    // family NULL-embedding rule: NULL scores NULL against EVERY centroid,
    // and the (score desc, pb) tiebreak would silently hand the vector the
    // lexicographically-first bucket — unassignable means excluded here,
    // exactly as [[assignToCentroids]] NULLs its `assigned`
    batch.filter(col("embedding").isNotNull)
      .select(col("vec_id").as("qid"), col("embedding"))
      .crossJoin(broadcast(byBucket))
      .withColumn("score", round(nd(col("embedding"), col("cvec")), 6))
      .withColumn("pr", row_number().over(w)).filter(col("pr") === 1)
      .select(col("qid").as("vec_id"), col("pb").as("b"), col("embedding"))
  }

  def quantizerDrift(corpus: DataFrame, current: DataFrame, cents: DataFrame,
                     bucketCol: String, threshold: Double): DataFrame = {
    val trainSide = corpus.select(col("vec_id"), col(bucketCol).as("b"),
      col("embedding"))
    val assigned = servingAssign(current, cents, bucketCol)
    val base = bucketMeanDist(trainSide, cents, bucketCol)
      .select(col("b"), col("n").as("n_train"), col("d").as("base_dist"))
    val cur = bucketMeanDist(assigned, cents, bucketCol)
      .select(col("b"), col("n").as("n_cur"), col("d").as("cur_dist"))
    // FULL outer (r15 advice): a bucket present in the stored centroid
    // table but with no assessable training population (e.g. all its
    // training embeddings NULL) still receives current arrivals under the
    // serving rule — a left join would silently drop its retrain signal
    // for exactly the degenerate case a drift monitor exists to catch.
    // Such a bucket surfaces as (n_train=0, base_dist NULL) and its
    // retrain flag falls through to the cur_dist > 0 arm below.
    base.join(cur, Seq("b"), "full_outer")
      .select(col("b").as(bucketCol),
        coalesce(col("n_train"), lit(0L)).as("n_train"), col("base_dist"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"), col("cur_dist"),
        round(when(col("base_dist") > 0, col("cur_dist") / col("base_dist")), 6)
          .as("drift_ratio"),
        coalesce(
          when(col("base_dist") > 0, col("cur_dist") / col("base_dist") > threshold),
          col("cur_dist") > 0, lit(false)).as("retrain"))
  }

  /** The APPLY half of the [[quantizerDrift]] → re-train loop: score the
    * arrival batch under the STALE quantizer (`oldCents`, trained before
    * the arrivals existed) and under the RETRAINED one (`newCents`), each
    * with its own serving assignment — the before/after evidence an
    * operator reads to decide the retrained index is worth swapping in.
    * Per bucket: arrival count + mean quantized squared L2 distance under
    * each quantizer (populations differ per bucket when assignments move
    * — that IS the operational view: "after retrain, this bucket's
    * arrivals sit this close"), full-outer joined so buckets that only
    * receive arrivals under one quantizer still surface. Same broadcast /
    * order-free-decimal scale shape as the drift monitor. */
  def retrainEval(batch: DataFrame, oldCents: DataFrame, newCents: DataFrame,
                  bucketCol: String): DataFrame = {
    val o = bucketMeanDist(servingAssign(batch, oldCents, bucketCol),
        oldCents, bucketCol)
      .select(col("b"), col("n").as("n_old"), col("d").as("dist_old"))
    val n = bucketMeanDist(servingAssign(batch, newCents, bucketCol),
        newCents, bucketCol)
      .select(col("b"), col("n").as("n_new"), col("d").as("dist_new"))
    o.join(n, Seq("b"), "full_outer")
      .select(col("b").as(bucketCol),
        coalesce(col("n_old"), lit(0L)).as("n_old"), col("dist_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"), col("dist_new"),
        round(col("dist_new") - col("dist_old"), 6).as("delta"))
  }

  /** Product-quantization code assignment — the memory-compressed ANN
    * path (IVF-PQ): the `dims`-dim space splits into `nSub` contiguous
    * subspaces and each subvector is replaced by the id of its nearest
    * codebook centroid, collapsing a vector to `nSub` small codes. The
    * codebook here is the per-label mean restricted to each subspace
    * (k-means-seeded codebooks drop into the same plan — [[centroids]] /
    * [[kmeansFit]] produce the identical long form). Squared-distance
    * terms are rounded to 12 decimals and summed as DECIMAL so the
    * per-subspace distances are order-free and engine-invariant; argmin
    * runs through the bounded-heap TopKPerKey operator (no window sort
    * over the n × k scored rows), ties broken by smallest label. Cost is
    * one broadcast of the k × dims codebook + one narrow explode — the
    * corpus never shuffles by anything except (vec, sub) for the top-1.
    */
  def pqCodes(corpus: DataFrame, dims: Int, nSub: Int): DataFrame = {
    require(nSub > 0 && dims % nSub == 0, "nSub must divide dims")
    val cent = centroids(corpus, "label") // (label, i, mean): i 1-based, 6dp
    val diff = col("v").cast("double") - col("mean")
    val terms = corpus
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .join(broadcast(cent), col("pos") + 1 === col("i"))
      .select(col("vec_id"), col("label"),
        (col("pos") / lit(dims / nSub)).cast("int").as("sub"),
        (floor(diff * diff * lit(1e12) + lit(0.5)) / lit(1e12))
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)).as("t"))
    val dist = terms.groupBy(col("vec_id"), col("sub"), col("label"))
      .agg(sum(col("t")).as("dist"))
    graft.ops.Ops.topKPerKey(dist, Seq("vec_id", "sub"),
        Seq(("dist", false), ("label", false)), 1)
      .select(col("vec_id"), col("sub"), col("label").as("code"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes — the scan half of
    * IVF-PQ: each query precomputes a (subspace × centroid) lookup table
    * of exact squared subvector distances, and a corpus vector's
    * approximate distance is the sum of `nSub` table lookups selected by
    * its codes — the corpus embeddings are never touched again after
    * encoding. The LUT is |queries| × nSub × k rows and broadcasts; the
    * only exchange is the (query, neighbor) rollup feeding the bounded-
    * heap top-k. Distances quantize exactly like [[pqCodes]] (12dp
    * decimal terms), and ranking uses the 6dp-rounded double with a
    * neighbor-id tiebreak, so results are engine-invariant. */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, dims: Int, nSub: Int,
                k: Int): DataFrame =
    pqAdcTopKStored(pqCodes(corpus, dims, nSub), centroids(corpus, "label"),
      queries, dims, nSub, k)

  /** [[pqAdcTopK]] serving from PRE-TRAINED artifacts — the production
    * shape: `codes` is the stored (vec_id, sub, code) table and `cent`
    * the stored codebook (exactly what [[pqCodes]] / [[centroids]]
    * produce), so the query path is LUT build + ADC scan only. Training
    * happens once, when the corpus lands, like the IVF quantizer — at
    * 100 TB the codebook/codes are computed by the ingestion job and the
    * serving query never touches the raw corpus embeddings at all. */
  def pqAdcTopKStored(codes: DataFrame, cent: DataFrame, queries: DataFrame,
                      dims: Int, nSub: Int, k: Int): DataFrame = {
    val lut = adcLut(queries, cent, dims, nSub)
    val adc = codes.join(broadcast(lut),
        col("sub") === col("lsub") && col("code") === col("llabel") &&
          col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      .agg(round(sum(col("dlut")).cast("double"), 6).as("adist"))
    rankAdc(adc, k)
  }

  /** Per-query (subspace × codeword) lookup table of 12dp-decimal squared
    * subvector distances — the arithmetic the DuckDB oracles reproduce
    * bit-for-bit, kept in ONE place so every ADC consumer
    * ([[pqAdcTopKStored]], [[ivfPqAdcTopKStored]]) stays in sync. */
  private def adcLut(queries: DataFrame, cent: DataFrame,
                     dims: Int, nSub: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val diff = col("qv").cast("double") - col("mean")
    queries
      .select(col("vec_id").as("qid"), posexplode(col("embedding")).as(Seq("pos", "qv")))
      .join(broadcast(cent), col("pos") + 1 === col("i"))
      .select(col("qid"), col("label").as("llabel"),
        (col("pos") / lit(dims / nSub)).cast("int").as("lsub"),
        (floor(diff * diff * lit(1e12) + lit(0.5)) / lit(1e12))
          .cast(DecimalType(28, 12)).as("t"))
      .groupBy(col("qid"), col("lsub"), col("llabel"))
      .agg(sum(col("t")).as("dlut"))
  }

  /** Bounded-heap top-k + rank over an (qid, nid, adist) frame — 6dp
    * double ranking with the nid tiebreak, as the oracles state. */
  private def rankAdc(adc: DataFrame, k: Int): DataFrame = {
    val pruned = graft.ops.Ops.topKPerKey(adc, Seq("qid"),
      Seq(("adist", false), ("nid", false)), k)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("nid"))
    pruned.withColumn("rank", row_number().over(w))
  }

  /** Full IVF-PQ serving — the production ANN index (FAISS's IndexIVFPQ
    * shape) composed from the two stored halves this library already
    * trains: the IVF coarse quantizer routes each query to its
    * top-`nprobe` cells (6dp-rounded centroid dots, reproducible), and
    * the ADC scan then reads ONLY the probed cells' PQ codes — the
    * corpus side is a broadcast-probe equi-join on the cell id followed
    * by `nSub` table lookups per candidate, so the scan cost is the
    * probed fraction of an already-8x-compressed table, never the
    * corpus. `codes` = stored (vec_id, sub, code), `cent` = stored
    * codebook (also the coarse centroids — cells and subquantizers share
    * the label codebook here, as [[pqCodes]] trains them), `cells` =
    * (vec_id, cell) assignment stored at encoding time. */
  def ivfPqAdcTopKStored(codes: DataFrame, cent: DataFrame, cells: DataFrame,
                         queries: DataFrame, dims: Int, nSub: Int, k: Int,
                         nprobe: Int): DataFrame = {
    val nd = nativeDot(_, _)
    // coarse routing: same probe selection as ivfMultiProbeTopK
    val byBucket = cent.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("i"), col("mean")))).as("c"))
      .select(col("label").as("pb"), transform(col("c"), x => x.getField("mean")).as("cvec"))
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("pb"))
    val probes = q.crossJoin(broadcast(byBucket))
      .withColumn("score", round(nd(col("qe"), col("cvec")), 6))
      .withColumn("pr", row_number().over(wProbe)).filter(col("pr") <= nprobe)
      .select(col("qid"), col("pb"))
    val lut = adcLut(queries, cent, dims, nSub)
    // cell restriction FIRST, against the CELL table: cells ⋈ broadcast
    // probes is map-side and yields only the probed (qid, vec) set — the
    // codes table then joins that small side (AQE broadcasts it), so the
    // corpus-sized codes and cells tables are never shuffle-joined
    // against each other just to be filtered afterwards
    val probedVecs = cells.select(col("vec_id"), col("cell"))
      .join(broadcast(probes), col("cell") === col("pb"))
      .select(col("qid"), col("vec_id"))
    val probedCodes = codes.join(probedVecs, Seq("vec_id"))
    val lutR = lut.withColumnRenamed("qid", "lqid")
    val adc = probedCodes.join(broadcast(lutR),
        col("qid") === col("lqid") && col("sub") === col("lsub") &&
          col("code") === col("llabel") && col("vec_id") =!= col("lqid"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      .agg(round(sum(col("dlut")).cast("double"), 6).as("adist"))
    rankAdc(adc, k)
  }

  /** Assign each vector to its max-dot-product centroid (centroids in
    * long form as produced by [[centroids]], collected + broadcast as an
    * array literal — k × dims doubles, driver-safe by construction). */
  def assignToCentroids(vecs: DataFrame, cents: DataFrame, bucketCol: String): DataFrame = {
    val byBucket = cents.groupBy(col(bucketCol))
      .agg(array_sort(collect_list(struct(col("i"), col("mean")))).as("c"))
      .select(col(bucketCol).as("__bucket"),
        transform(col("c"), x => x.getField("mean")).as("__centroid"))
    val scored = vecs.crossJoin(broadcast(byBucket))
      .withColumn("__score", nativeDot(col("embedding"), col("__centroid")))
    // argmax = top-1 per vector through the bounded-heap operator: no
    // window, no sort of the n×k scored rows.
    // A NULL embedding scores NULL against every centroid and is
    // UNASSIGNABLE (assigned = NULL) — the heap's tiebreak would
    // otherwise silently hand it the lexicographically-first bucket; a
    // wrong-dimension vector (including an empty array) raises
    // graft_dot's named length error, the quantizer's dimension contract
    graft.ops.Ops.topKPerKey(scored, Seq("vec_id"),
        Seq(("__score", true), ("__bucket", false)), 1)
      .select(vecs.columns.toIndexedSeq.map(col) :+
        when(col("__score").isNull, lit(null).cast(byBucket.schema("__bucket").dataType))
          .otherwise(col("__bucket")).as("assigned"): _*)
  }

  /** Full Lloyd's k-means for the IVF coarse quantizer: deterministic
    * init (bucket = vec_id % k), then alternate [[centroids]] /
    * [[assignToCentroids]]. Each iteration is one shuffle (k×dims partial
    * means) plus a broadcast assignment pass — no driver-side math beyond
    * holding k centroids. Returns (assignments, centroids). */
  def kmeansFit(corpus: DataFrame, k: Int, iterations: Int): (DataFrame, DataFrame) = {
    var assigned = corpus.withColumn("bucket", pmod(col("vec_id"), lit(k)).cast("int"))
    var cents: DataFrame = null
    for (_ <- 1 to iterations) {
      cents = centroids(assigned, "bucket")
      assigned = assignToCentroids(corpus, cents, "bucket")
        .withColumnRenamed("assigned", "bucket")
    }
    (assigned, cents)
  }

  /** Multi-probe IVF ANN: each query is scored against every bucket
    * centroid (k×dims doubles, broadcast), probes its top-`nprobe`
    * buckets, and reranks exactly within the probed candidates — the
    * standard recall/cost dial between [[ivfTopK]] (nprobe=1) and
    * [[bruteTopK]] (nprobe=k). Candidate generation stays a bucket
    * equi-join: the corpus side never shuffles and scans only the probed
    * fraction. Centroid means are rounded at 6dp (as [[centroids]]
    * emits them), making probe selection reproducible cross-engine. */
  def ivfMultiProbeTopK(corpus: DataFrame, queries: DataFrame, bucketCol: String,
                        k: Int, nprobe: Int): DataFrame =
    ivfMultiProbeTopK(corpus, queries, centroids(corpus, bucketCol), bucketCol, k, nprobe)

  /** [[ivfMultiProbeTopK]] against an externally supplied centroid table
    * (long form, as [[centroids]]/[[kmeansFit]] emit and
    * graft.io.Warehouse persists) — the production path: train the coarse
    * quantizer once, store it, and serve every subsequent query from the
    * persisted table instead of re-deriving it per run. */
  def ivfMultiProbeTopK(corpus: DataFrame, queries: DataFrame, cents: DataFrame,
                        bucketCol: String, k: Int, nprobe: Int): DataFrame = {
    val nd = nativeDot(_, _)
    val byBucket = cents
      .groupBy(col(bucketCol))
      .agg(array_sort(collect_list(struct(col("i"), col("mean")))).as("c"))
      .select(col(bucketCol).as("pb"), transform(col("c"), x => x.getField("mean")).as("cvec"))
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      sqrt(nd(col("embedding"), col("embedding"))).as("qn")))
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("pb"))
    val probes = q.crossJoin(broadcast(byBucket))
      .withColumn("score", round(nd(col("qe"), col("cvec")), 6))
      .withColumn("pr", row_number().over(wProbe)).filter(col("pr") <= nprobe)
      .select(col("qid"), col("qe"), col("qn"), col("pb"))
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("ne"),
      sqrt(nd(col("embedding"), col("embedding"))).as("nn"), col(bucketCol))
    val scored = c.join(broadcast(probes),
        col(bucketCol) === col("pb") && col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        cosOver(nd(col("qe"), col("ne")), col("qn"), col("nn")).as("cos"))
    rankTopK(scored, k)
  }

  /** Random-hyperplane LSH bucket assignment: bit p of a vector's bucket
    * is the sign of its dot product with hyperplane p. Hyperplanes are
    * data-derived — the embeddings of the first `numPlanes` corpus vectors
    * (the corpus is zero-mean, so each such plane splits it roughly in
    * half) — which keeps the scheme fully deterministic and reproducible
    * in any engine without a shared RNG. The sign test is bit-exact
    * cross-engine because both sides fold identical IEEE doubles in the
    * same order (see dot). Planes are broadcast (numPlanes × dims floats);
    * the corpus side never shuffles — `2^numPlanes` buckets. */
  def lshAssign(vecs: DataFrame, numPlanes: Int): DataFrame = {
    val nd = nativeDot(_, _)
    // all planes in ONE broadcast row (numPlanes × dims floats), so bucket
    // assignment is a row-local fold over the plane array: the corpus side
    // is map-only — no shuffle at any scale. (A per-plane join + groupBy
    // would re-shuffle the whole corpus just to sum 4 bits.)
    val planes = vecs.filter(col("vec_id") < numPlanes)
      .groupBy()
      .agg(array_sort(collect_list(
        struct(col("vec_id").as("pid"), col("embedding").as("pe")))).as("__planes"))
    vecs.crossJoin(broadcast(planes))
      .withColumn("bucket",
        aggregate(col("__planes"), lit(0L), (acc, p) =>
          acc + when(nd(col("embedding"), p.getField("pe")) >= 0,
            pow(lit(2.0), p.getField("pid")).cast("long")).otherwise(lit(0L))))
      .drop("__planes")
  }

  /** LSH-bucketed ANN: hash corpus and queries with [[lshAssign]], then
    * rerank exactly within the query's bucket — same candidate-join shape
    * as [[ivfTopK]] but with no training step at all, the cheapest scale
    * path when approximate recall is acceptable. Recall dial = fewer
    * planes (bigger buckets) or multi-probe on Hamming-adjacent buckets. */
  def lshTopK(corpus: DataFrame, queryPred: Column, numPlanes: Int, k: Int): DataFrame = {
    val nd = nativeDot(_, _)
    val hashed = lshAssign(corpus, numPlanes)
    val q = broadcast(hashed.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        sqrt(nd(col("embedding"), col("embedding"))).as("qn"), col("bucket").as("qb")))
    val c = hashed.select(col("vec_id").as("nid"), col("embedding").as("ne"),
      sqrt(nd(col("embedding"), col("embedding"))).as("nn"), col("bucket"))
    val scored = c.join(q, col("bucket") === col("qb") && col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        cosOver(nd(col("qe"), col("ne")), col("qn"), col("nn")).as("cos"))
    rankTopK(scored, k)
  }

  /** SemDeDup (Abbas et al. 2023): within each coarse bucket, a vector
    * is DROPPED when an earlier (lower-id) vector of the same bucket is
    * more cosine-similar than `threshold` — keep-first semantic dedup,
    * the embedding-space counterpart of MinHash/SimHash near-dup
    * removal. Pair comparison is confined to buckets (the same IVF
    * partitioning the ANN path uses), so cost is Σ|bucket|² rather than
    * n²; at scale the bucket fanout (k-means k) is the dial, and the
    * bucket self-join is a plain equi-join — no cross product. Returns
    * (vec_id, bucket, kept). */
  def semanticDedup(corpus: DataFrame, bucketCol: String,
                    threshold: Double): DataFrame = {
    val nd = nativeDot(_, _)
    val a = corpus.select(col("vec_id"), col("embedding").as("ae"),
      sqrt(nd(col("embedding"), col("embedding"))).as("an"), col(bucketCol).as("ab"))
    val b = corpus.select(col("vec_id").as("bid"), col("embedding").as("be"),
      sqrt(nd(col("embedding"), col("embedding"))).as("bn"), col(bucketCol).as("bb"))
    val dropped = a.join(b, col("ab") === col("bb") && col("bid") < col("vec_id"))
      // zero-norm guard (see [[cosine]]): an undefined cosine is NULL,
      // and the 3VL filter treats it as never-near-dup
      .filter(nd(col("ae"), col("be")) / nullif(col("an") * col("bn"), lit(0.0)) >= threshold)
      .select(col("vec_id")).distinct()
      .withColumn("__drop", lit(1))
    corpus.select(col("vec_id"), col(bucketCol))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col(bucketCol), col("__drop").isNull.as("kept"))
  }

  /** [[semanticDedup]] served from a TRAINED coarse quantizer (long-form
    * centroid table, as [[centroids]]/[[kmeansFit]] emit and the
    * Warehouse persists): each vector is assigned to its max-dot stored
    * centroid — 6dp-rounded score, smallest-bucket tiebreak, the exact
    * probe rule the stored-centroid IVF path serves with — then
    * keep-first dedup runs inside the assigned buckets. One trained
    * quantizer thus drives BOTH retrieval (IVF probes) and dedup
    * (SemDeDup buckets), so the two stay consistent and the training
    * cost is paid once. Assignment is a broadcast of the k×dims table +
    * a bounded-heap argmax — the corpus never shuffles for it. Returns
    * (vec_id, bucket, kept). */
  def semanticDedupStored(corpus: DataFrame, cents: DataFrame,
                          bucketCol: String, threshold: Double): DataFrame = {
    val nd = nativeDot(_, _)
    val byBucket = cents.groupBy(col(bucketCol))
      .agg(array_sort(collect_list(struct(col("i"), col("mean")))).as("c"))
      .select(col(bucketCol).as("__bucket"),
        transform(col("c"), x => x.getField("mean")).as("__cvec"))
    val scored = corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(byBucket))
      .withColumn("__score", round(nd(col("embedding"), col("__cvec")), 6))
    // cache the assignment: the dedup reads it three times (both pair
    // sides + the final kept-flag join) and the centroid scoring +
    // bounded-heap argmax must not run per consumer
    val assigned = BoundedCache.persist("Similarity.semanticDedupStored.assigned",
      graft.ops.Ops.topKPerKey(scored, Seq("vec_id"),
          Seq(("__score", true), ("__bucket", false)), 1)
        .select(col("vec_id"), col("embedding"), col("__bucket").as("bucket")))
    semanticDedup(assigned, "bucket", threshold)
  }

  /** Recall@k of an approximate ANN result against exact ground truth —
    * the evaluation harness every production index needs before its
    * recall/cost dial is trusted. Both inputs carry (qid, nid) top-k
    * rows; output is (qid, n_hit, recall) with every ground-truth query
    * present (0 recall when the index missed everything). A left-semi
    * join on (qid, nid) counts hits — both sides are k·|queries| rows,
    * so this costs nothing next to the searches themselves. */
  /** Exact re-rank refinement — the standard production tail of every
    * quantized retriever (FAISS's refine/RFlat stage): the cheap index
    * (ADC, SQ8, LSH…) fetches `candidates` = top-(k·c) (qid, nid) pairs,
    * then ONLY those pairs are re-scored with the exact float cosine and
    * the final top-k ranked from the refined scores. Cost shape at
    * 100 TB: the exact arithmetic touches |Q|·k·c rows, never the
    * corpus — the candidate set broadcasts (it is k·c per query by
    * construction), the corpus joins it map-side to fetch the full-
    * precision vectors, and the query block is the same broadcast every
    * retriever uses. Quantization error then affects only RANKING WITHIN
    * the candidate set boundary, which is why recall@k rises toward the
    * exact baseline as c grows ([[recallAtK]] measures exactly that;
    * see ann_recall_refine_eval). */
  def refineTopK(candidates: DataFrame, corpus: DataFrame, queries: DataFrame,
                 k: Int): DataFrame = {
    val nd = nativeDot(_, _)
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      sqrt(nd(col("embedding"), col("embedding"))).as("qn")))
    val cand = broadcast(candidates.select(col("qid"), col("nid")))
    // candidate join FIRST, exact arithmetic second: projecting the
    // neighbor norm before the join would evaluate the O(d) dot over the
    // FULL corpus stream — exactly the work the refine stage exists to
    // avoid; after the join only the ≤ |Q|·k·c survivors pay it
    val scored = corpus.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .join(cand, Seq("nid"))
      .join(q, Seq("qid"))
      .select(col("qid"), col("nid"),
        // zero-norm guard (see [[cosine]]): quantized candidate fetches
        // score by DISTANCE, not cosine, so a zero-norm vector is a
        // legitimate candidate here even though no cosine retriever
        // would emit one — the refine divide must not be the one place
        // a broken-encoder row kills the job (ANSI DIVIDE_BY_ZERO)
        cosOver(nd(col("qe"), col("ne")),
          col("qn"), sqrt(nd(col("ne"), col("ne")))).as("cos"))
    rankTopK(scored, k)
  }

  /** NOTE (r17 optimization round, mechanism updated r18): `t` feeds BOTH
    * the hit semi-join and the per-query key set, so an unmaterialized
    * truth pipeline (a brute-force full-corpus scan in every recall eval)
    * executes twice per call — callers materialize truth via
    * `BoundedCache.perRun` (see ann_recall_eval / ann_recall_refine_eval).
    * The materialization lives at the CALLER, not here: refine_eval shares
    * one materialized truth across two recallAtK calls, and an internal
    * re-materialization of already-materialized data measured as two extra
    * scheduler-serialized jobs per eval at the 10× fixture. */
  def recallAtK(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val t = truth.select(col("qid"), col("nid"))
    val hits = t.join(approx.select(col("qid"), col("nid")),
        Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("h"))
    t.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("h"), lit(0L)).as("n_hit"),
        round(coalesce(col("h"), lit(0L)).cast("double") / k, 6).as("recall"))
  }

  /** IVF-style ANN: identical to [[bruteTopK]] but the candidate set is
    * pruned to the query's coarse bucket (equi-join on `bucketCol`).
    * probe=1; multi-probe = union over adjacent buckets, same shape. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, bucketCol: String, k: Int): DataFrame = {
    val nd = nativeDot(_, _)
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      sqrt(nd(col("embedding"), col("embedding"))).as("qn"), col(bucketCol).as("qb")))
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("ne"),
      sqrt(nd(col("embedding"), col("embedding"))).as("nn"), col(bucketCol))
    val scored = c.join(q, col(bucketCol) === col("qb") && col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        cosOver(nd(col("qe"), col("ne")), col("qn"), col("nn")).as("cos"))
    rankTopK(scored, k)
  }
}
