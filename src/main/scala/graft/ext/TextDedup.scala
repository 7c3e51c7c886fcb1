package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge.{column, expression}

/** Document deduplication for training-data pipelines (SURVEY.md §7.1
  * item 8): exact, canonical-fingerprint, MinHash+LSH, SimHash, and
  * token-set Jaccard — each as a set-based DataFrame program.
  *
  * Scale design (100 TB): every method is shuffle-bounded by
  * (docs × small-constant) intermediate rows — tokens×seeds for MinHash,
  * tokens×bits for SimHash — with partial aggregation before each shuffle.
  * Candidate generation is always an equi-join on a band/bucket key
  * (never a cross join); only the restricted verification step compares
  * pairs. Hashes are md5-hex so signatures are reproducible in any engine
  * (the DuckDB oracle computes the identical signatures); swap
  * [[tokenHash]] to `xxhash64` for a ~3× cheaper production profile with
  * the same plan shape.
  *
  * NULL-key rule (family-wide): per-document operators need an
  * ADDRESSABLE doc key. A row with a NULL key (or NULL text, where the
  * text is the unit of work) is UNASSESSABLE — it surfaces in per-doc
  * outputs with its computable size columns and NULL for every
  * dedup-derived column, is excluded from signature/rebuild/metric
  * compute (SQL GROUP BY would otherwise MERGE all NULL-key docs into
  * one corpus-wide chimera document — wrong results, and one unbounded
  * aggregation buffer at 100 TB), and never appears in pairwise output
  * (a pair needs two addressable docs; the `d1 < d2` dedup predicate is
  * UNKNOWN for NULLs under 3VL either way). NULL-key docs' CONTENT still
  * feeds corpus-wide frequency counts where those are key-agnostic
  * (duplicated-span/line/gram occurrence counts) — the content genuinely
  * exists in the corpus even when its row can't be addressed. Assign
  * surrogate keys upstream to make such rows assessable.
  */
object TextDedup {

  /** Salt-bucket count for the gram-keyed dedup stages
    * (conf `graft.dedup.gramSaltBuckets`). A hot gram (boilerplate
    * 5-grams repeat billions of times at 100 TB) is spread across this
    * many buckets in every gram-keyed exchange: corpus-wide counts are
    * pre-aggregated per (gram, salt) and summed — bounded at S rows per
    * gram — and occurrence-level enrichment joins on (gram, salt), so no
    * single task ever holds more than ~1/S of a hot gram's occurrences. */
  val GramSaltBucketsKey = "graft.dedup.gramSaltBuckets"
  private val GramSaltBucketsDefault = 16

  private def saltBuckets(df: DataFrame): Int =
    df.sparkSession.conf.get(GramSaltBucketsKey, GramSaltBucketsDefault.toString).toInt

  /** Corpus-wide occurrence count (`df`) per gram, salted: partial counts
    * per (gram, salt) — the full occurrence stream collapses to ≤ S rows
    * per gram BEFORE any gram-keyed exchange — then a window sum over the
    * collapsed rows. Returns one row per OBSERVED (gram, salt) bucket
    * with the gram-level total attached, which is exactly the join-back
    * key occurrence streams already carry. */
  private def saltedGramCounts(grams: DataFrame, salt: Column, s: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    grams
      .groupBy(col("gram"), salt.as("_salt"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("df", sum(col("_c")).over(Window.partitionBy(col("gram"))))
      .drop("_c")
  }

  /** distinct word tokens of a text column — the n=1 case of the native
    * [[graft.plans.ShingleArray]] loop (first-occurrence order, exactly
    * `array_distinct(split(text, ' '))`, which it replaced: the builtin
    * pair is two interpreted collection passes per row). */
  def tokens(text: Column): Column = shingles(text, 1)

  /** distinct n-gram word shingles (n consecutive words joined by one
    * space) — the standard MinHash/Jaccard unit for near-dup detection;
    * n=1 degenerates to [[tokens]]. Computed by the native codegen'd
    * [[graft.plans.ShingleArray]] expression: one compiled loop per row.
    * (Earlier forms for the record: the fold of zip_with over n shifted
    * slices paid n interpreted lambda passes + n array allocations per
    * row — ~70% of the gram pipelines' cost; the per-position slice+join
    * was 3× slower still.) No explode, no shuffle. */
  def shingles(text: Column, n: Int): Column =
    nativeShingles(text, n, distinct = true)

  /** Positional n-gram shingles: element i (0-based) is the gram starting
    * at token position i — NOT deduplicated, span-level dedup needs every
    * occurrence with its position. Same compiled loop as [[shingles]]
    * without the dedup. */
  def positionalShingles(text: Column, n: Int): Column =
    nativeShingles(text, n, distinct = false)

  private def nativeShingles(text: Column, n: Int, distinct: Boolean): Column =
    column(graft.plans.ShingleArray(expression(split(text, " ")), n, distinct))

  /** Exact-substring (span-level) deduplication — the RefinedWeb /
    * MassiveText stage that EDITS documents instead of dropping them:
    * any token span covered by an n-gram occurring at least `minCount`
    * times corpus-wide (including repeats within one document) is
    * removed, and the remaining tokens are stitched back in order.
    * Returns (id, n_tokens, n_kept, dup_frac, cleaned_md5, over_length) —
    * the cleaned text is fingerprinted so oracle comparison stays
    * row-shaped; docs past `maxTokens` skip the rebuild and pass through
    * flagged (`over_length = true`, dup_frac unassessed/null).
    *
    * Scale shape: one positional-gram explode, then SALTED gram counting
    * (see [[saltedGramCounts]]): the occurrence stream pre-aggregates per
    * (gram, salt) before the only gram-keyed exchange, and duplicate
    * starts come from a semi join back on (gram, salt) — a hot
    * boilerplate gram lands on S tasks, not one, in both stages (the
    * unsalted window form put every occurrence of one gram on a single
    * task). Covered positions come from a bounded explode (n rows per
    * duplicate gram) deduplicated by (doc, pos) — partial aggregation
    * collapses the overlapping-span blowup map-side, and the key has no
    * hot values — and the rebuild is a doc-keyed sort-free aggregation
    * (array_sort over (pos, token) structs, partition-local). */
  /** Default rebuild cap for the span-level operators: documents longer
    * than this many whitespace tokens are flagged and passed through
    * un-rebuilt instead of materializing their token array in one
    * `collect_list` aggregation buffer. Real corpora cap documents far
    * below this (and the Gopher length rules drop such docs earlier);
    * the gate makes the buffer bound EXPLICIT at 100 TB, where one
    * pathological multi-GB document would otherwise pin an executor. */
  val DefaultMaxRebuildTokens: Int = 1 << 20

  def exactSubstringDedup(docs: DataFrame, id: String, text: String,
                          n: Int, minCount: Int = 2,
                          maxTokens: Int = DefaultMaxRebuildTokens): DataFrame = {
    val s = saltBuckets(docs)
    val nTok = size(split(col(text), " ")).cast("long")
    // doc-length gate (flag-and-skip, like Gopher's length rules): docs
    // past maxTokens are EXCLUDED from the collect_list rebuild — the
    // only stage that materializes a whole document in one aggregation
    // buffer — and surface flagged with their original fingerprint.
    // Their grams still feed the corpus-wide counts (linear, streaming
    // explode; no per-doc buffer), so every other doc's result is
    // identical with or without the pathological neighbor.
    val overIds = docs.filter(nTok > maxTokens).select(col(id))
    // NULL-key rule (object doc): unaddressable docs skip the per-doc
    // rebuild entirely — their grams still feed the corpus counts below
    val toks = docs.filter(nTok <= maxTokens && col(id).isNotNull).select(col(id),
      posexplode(split(col(text), " ")).as(Seq("pos", "w")))
    // salt on (id, gpos): within-doc repeats of one gram (log-file
    // boilerplate) spread across buckets too, not just cross-doc mass
    val grams = docs.select(col(id),
      posexplode(positionalShingles(col(text), n)).as(Seq("gpos", "gram")))
      .withColumn("_salt", pmod(hash(col(id), col("gpos")), lit(s)))
    val dupBuckets = saltedGramCounts(grams, col("_salt"), s)
      .filter(col("df") >= minCount)
      .select(col("gram"), col("_salt"))
    val dupStarts = grams
      .join(dupBuckets, Seq("gram", "_salt"), "left_semi")
      .select(col(id), col("gpos"))
      .filter(col(id).isNotNull) // NULL-key docs are not rebuilt
      // skipped docs need no cover positions — drop them before the
      // n-fold cover explode (overIds is empty/tiny by construction)
      .join(overIds, Seq(id), "left_anti")
    val covered = dupStarts
      .select(col(id), explode(sequence(col("gpos"), col("gpos") + (n - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq(id, "pos"), "left_anti")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ")).as("cleaned_md5"))
    val over = col("n_tokens") > maxTokens
    // NULL-key rule: an unaddressable doc (NULL key or NULL text) keeps
    // its computable n_tokens and NULLs every dedup-derived column — the
    // join-back on the key can never match it (NULL equi-join), and the
    // old coalesce-to-zero read as "100% duplicated", silently flagging
    // a unique doc for removal
    val unassessed = col(id).isNull || col("_text").isNull
    docs.select(col(id), nTok.as("n_tokens"), col(text).as("_text"))
      .join(kept, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        // a flagged doc passes through untouched: nothing was removed,
        // so the "cleaned" text IS the original (split+rejoin on the
        // same delimiter is the identity) and dup_frac is unassessed
        when(unassessed, lit(null).cast("long"))
          .when(over, col("n_tokens"))
          .otherwise(coalesce(col("n_kept"), lit(0L))).as("n_kept"),
        when(unassessed || over, lit(null).cast("double"))
          .otherwise(round(lit(1.0) - coalesce(col("n_kept"), lit(0L)) / col("n_tokens"), 6))
          .as("dup_frac"),
        when(unassessed, lit(null).cast("string"))
          .when(over, md5(col("_text")))
          .otherwise(coalesce(col("cleaned_md5"), md5(lit("")))).as("cleaned_md5"),
        when(unassessed, lit(null).cast("boolean")).otherwise(over).as("over_length"))
  }

  /** Exact dedup: group by full-content hash, keep min id
    * (the reference's content-hash idempotence, transform_data_pdf:9-10). */
  def exact(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(col(text)).as("h"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n"))

  /** Canonical fingerprint dedup (sorted distinct token set → md5):
    * catches reordered/duplicated-word variants. */
  def fingerprint(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(array_join(array_sort(tokens(col(text))), " ")).as("fp"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n"))

  /** MinHash signatures, wide form: one row per doc with numHashes min
    * columns — sig_i = min over tokens of md5(i + '|' + token).
    * One explode (tokens only, no seed cross-join) and ONE shuffle keyed
    * by doc_id, with partial aggregation shrinking each map side to one
    * row per doc before the exchange. The tall layout (doc_id, i, sig)
    * needed two shuffles of a tokens×seeds intermediate. */
  def minhashSignatures(df: DataFrame, id: String, text: String,
                        numHashes: Int, gramN: Int = 1): DataFrame = {
    // NULL-key rule: a signature must be addressable — the groupBy would
    // otherwise merge every NULL-key doc into one chimera signature whose
    // bands collide with real docs
    val w = df.filter(col(id).isNotNull).select(col(id).as("doc_id"),
      explode(shingles(col(text), gramN)).as("w"))
    val mins = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i|"), col("w")))).as(s"s$i"))
    w.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH banding over the signatures: band key = md5 of the band's sigs in
    * seed order; candidate pairs = docs sharing any (band, key) bucket.
    * The self-join is an equi-join on the band key — no cross product —
    * and degenerate buckets larger than `maxBucketSize` are skipped (the
    * standard guard: a bucket of B docs contributes B²/2 candidate pairs,
    * so one hot bucket can dominate the whole join; near-dup mining inside
    * a degenerate bucket belongs to a clustering pass, not pairwise LSH). */
  /** (band, bkey) rows of a signature frame: band key = md5 of the
    * band's sigs in seed order. Shared by the self-join and the
    * incremental (index-probe) candidate generators. */
  private def bandRows(sigs: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until numHashes / rowsPerBand).map { b =>
      val bandSigs = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"s$i"))
      struct(lit(b).as("band"), md5(concat(bandSigs: _*)).as("bkey"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  def lshCandidatePairs(df: DataFrame, id: String, text: String,
                        numHashes: Int = 16, rowsPerBand: Int = 4,
                        maxBucketSize: Int = 64): DataFrame = {
    val sigs = minhashSignatures(df, id, text, numHashes)
    // Persist the GUARDED band frame — both self-join sides read it, and
    // everything above it (signature explode, 16 string-min aggregates,
    // band explode, the bucket-size guard) must not run twice. The
    // degenerate-bucket guard aggregates the OVERSIZED buckets
    // (partial-agg'd, normally an empty set) and broadcast-anti-joins
    // them out — same plan rationale as [[simhashBandPairs]]: a window
    // count would co-locate a mega-bucket's rows on one task just to
    // count them AND break whole-stage codegen between the band explode
    // and the pair join. docs × numBands rows: small at any corpus size.
    // the CACHE sits below the guard (the signature pipeline must run
    // once, and both the oversized aggregate and the anti-join probe —
    // and both pair-join sides — read the cached frame; the broadcast
    // build is shared via exchange reuse)
    val rawBands = BoundedCache.persist("TextDedup.lshCandidatePairs.bands",
      bandRows(sigs, numHashes, rowsPerBand))
    val oversized = rawBands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBucketSize)
      .select(col("band"), col("bkey"))
    // the guarded frame is cached too: both pair-join sides read it
    // directly, paying the anti-join once instead of once per side
    val pruned = BoundedCache.persist("TextDedup.lshCandidatePairs.pruned",
      rawBands.join(broadcast(oversized), Seq("band", "bkey"), "left_anti"))
    val a = pruned.select(col("doc_id").as("d1"), col("band"), col("bkey"))
    val b = pruned.select(col("doc_id").as("d2"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey")).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
  }

  /** Incremental near-dup gate — the INGESTION-time dedup shape: probe a
    * new batch against an already-indexed corpus. The corpus' band index
    * is computed once (persist it as a Warehouse table in production —
    * the train-once/serve-many shape persistedCentroids uses); each
    * incoming batch signs only ITSELF and equi-joins the index on
    * (band, bkey). No corpus self-join, no batch self-join — at 100 TB
    * the index side is the big one and it never moves: the probe is a
    * band-keyed join whose batch side is broadcastable whenever the
    * batch is small, which is the definition of incremental ingestion.
    * Returns one row per new doc: (new_id, n_cand, dup_of) with dup_of
    * the smallest candidate index id (null + n_cand=0 when clean). */
  def lshProbeIndex(index: DataFrame, batch: DataFrame, id: String,
                    text: String, numHashes: Int = 16,
                    rowsPerBand: Int = 4, maxBucketSize: Int = 64): DataFrame =
    lshProbeBands(bandIndex(index, id, text, numHashes, rowsPerBand),
      batch, id, text, numHashes, rowsPerBand, maxBucketSize)

  /** The corpus band index of [[lshProbeIndex]] as a standalone frame —
    * (doc_id, band, bkey), one row per document per band. This is the
    * table to PERSIST (train-once/serve-many): compute it when the corpus
    * is ingested, store it keyed by the corpus fingerprint, and let every
    * later batch probe the stored table (see PackExt.persistedBandIndex). */
  def bandIndex(df: DataFrame, id: String, text: String,
                numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame =
    bandRows(minhashSignatures(df, id, text, numHashes), numHashes, rowsPerBand)

  /** Probe half of [[lshProbeIndex]] against a PRECOMPUTED (possibly
    * stored) band index. Degenerate index buckets — a hot (band, bkey)
    * from constant boilerplate would multiply against every matching
    * batch doc before the per-doc aggregate — are dropped past
    * `maxBucketSize` through the same oversized-aggregate + broadcast
    * anti-join as [[lshCandidatePairs]]/[[simhashBandPairs]] (the window
    * form would serialize the hot bucket onto one task AND break codegen
    * on the probe side). */
  def lshProbeBands(idxBands: DataFrame, batch: DataFrame, id: String,
                    text: String, numHashes: Int = 16, rowsPerBand: Int = 4,
                    maxBucketSize: Int = 64): DataFrame =
    lshProbePruned(pruneBands(idxBands, maxBucketSize), batch, id, text,
      numHashes, rowsPerBand)

  /** The bucket-size guard of [[lshProbeBands]] as a standalone frame:
    * drop every (band, bkey) bucket holding more than `maxBucketSize`
    * index docs. A STATIC index's pruned form is an invariant of the
    * index content, so a multi-batch gate (st8's two drains) materializes
    * it once per run and probes every batch against the shared frame
    * instead of re-aggregating the full index per micro-batch (r18
    * optimization round, guide §2.4 — at 100 TB the guard is a full
    * index-table aggregation per arriving batch; production prunes once
    * per index VERSION). A growing index must keep recomputing per batch
    * (the guard is defined over the CURRENT index — st9's declared
    * semantics), which is why the probe stays split from the prune. */
  def pruneBands(idxBands: DataFrame, maxBucketSize: Int = 64): DataFrame = {
    val oversized = idxBands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBucketSize)
      .select(col("band"), col("bkey"))
    idxBands.join(broadcast(oversized), Seq("band", "bkey"), "left_anti")
  }

  /** Probe half of [[lshProbeBands]] against an ALREADY-PRUNED band
    * index (same row contract: (doc_id, band, bkey)). */
  def lshProbePruned(pruned: DataFrame, batch: DataFrame, id: String,
                     text: String, numHashes: Int = 16,
                     rowsPerBand: Int = 4): DataFrame = {
    val newBands = bandRows(minhashSignatures(batch, id, text, numHashes),
      numHashes, rowsPerBand)
    val cand = newBands.select(col("doc_id").as("new_id"), col("band"), col("bkey"))
      .join(pruned.select(col("doc_id").as("dup_of"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .select(col("new_id"), col("dup_of")).distinct()
    // NULL-key rule (object doc): a NULL-key batch doc can't be probed
    // (its signature is unaddressable) — the old left-join-then-groupBy
    // merged all such rows into ONE row reported as clean (n_cand=0);
    // they surface unassessable instead
    val unassessable = batch.filter(col(id).isNull)
      .select(col(id).as("new_id"), lit(null).cast("long").as("n_cand"),
        lit(null).cast(pruned.schema("doc_id").dataType).as("dup_of"))
    batch.filter(col(id).isNotNull).select(col(id).as("new_id"))
      .join(cand, Seq("new_id"), "left")
      .groupBy(col("new_id"))
      .agg(count(col("dup_of")).as("n_cand"), min(col("dup_of")).as("dup_of"))
      .unionByName(unassessable)
  }

  /** Cross-split near-dup detection (the leakage check behind a
    * leakage-safe train/test split): returns the DISTINCT `train` doc ids
    * whose estimated Jaccard with ANY `test` doc reaches
    * `minAgree`/`numHashes` — LSH-then-VERIFY, never pairwise. Band-bucket
    * collision alone over-fires on a near-dup-heavy corpus (one shared
    * band = one 4-sig run agreeing, compatible with J ≈ 0.5^(1/4) ≈ 0.3
    * one time in four bands), so each candidate pair is verified by full
    * signature agreement before it can cost a training document.
    *
    * Scale shape: the eval side is the small side by construction — its
    * band rows are the probe target with the standard oversized-bucket
    * cap; the train side signs itself once (signatures persisted via
    * BoundedCache, reused by the verify join) and equi-joins on (band,
    * bkey). The verify join touches candidate pairs only. */
  def crossSplitNearDups(train: DataFrame, test: DataFrame, id: String,
                         text: String, numHashes: Int = 16,
                         rowsPerBand: Int = 4, maxBucketSize: Int = 64,
                         minAgree: Int = 8, gramN: Int = 2): DataFrame = {
    // BIGRAM shingles by default: on a small-vocabulary corpus random
    // unigram sets already overlap heavily (the fixture's 31-word pool
    // puts RANDOM doc pairs at J ≈ 0.67 — every split decision would
    // fire), while bigrams put random pairs near 0.03 and true edited
    // copies near 1 — the same discrimination jaccardPairs documents.
    val sigT = BoundedCache.persist("textdedup.crosssplit.sigT",
      minhashSignatures(train, id, text, numHashes, gramN))
    val sigE = BoundedCache.persist("textdedup.crosssplit.sigE",
      minhashSignatures(test, id, text, numHashes, gramN))
    val bT = bandRows(sigT, numHashes, rowsPerBand)
    val bE = bandRows(sigE, numHashes, rowsPerBand)
    val oversized = bE.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBucketSize)
      .select(col("band"), col("bkey"))
    val prunedE = bE.join(broadcast(oversized), Seq("band", "bkey"), "left_anti")
    val cand = bT.select(col("doc_id").as("t_id"), col("band"), col("bkey"))
      .join(prunedE.select(col("doc_id").as("e_id"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .select(col("t_id"), col("e_id")).distinct()
    val sigTr = sigT.select(col("doc_id").as("t_id") +:
      (0 until numHashes).map(i => col(s"s$i").as(s"ts$i")): _*)
    val sigEr = sigE.select(col("doc_id").as("e_id") +:
      (0 until numHashes).map(i => col(s"s$i").as(s"es$i")): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"ts$i") === col(s"es$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sigTr, Seq("t_id")).join(sigEr, Seq("e_id"))
      .filter(agree >= lit(minAgree))
      .select(col("t_id").as("doc_id")).distinct()
  }

  /** Exact shingle-set Jaccard over candidate pairs generated by an
    * inverted-index join (shared-shingle equi-join, grouped to overlap
    * counts). n-gram shingles (n≥2) make the measure discriminative on
    * small vocabularies — on the test corpus bigrams isolate the 3 true
    * near-dup pairs that unigrams drown in 3.7k noise pairs. Use after
    * LSH at scale; standalone on bounded subsets.
    *
    * Grams with document frequency above `maxDf` are dropped from the
    * gram universe BEFORE the self-join (sizes and intersections both
    * computed over the filtered sets — the standard IR stopgram trick):
    * a stopword-heavy unigram config would otherwise make one shingle's
    * posting list quadratic in the self-join, the exact hot-key failure
    * the salted/capped siblings guard against. Near-ubiquitous grams
    * carry no Jaccard signal (they inflate every pair's intersection
    * and union alike), so the cap is a quality feature, not just a
    * guard. Counting rides [[saltedGramCounts]] — a hot gram's document
    * frequency pre-aggregates per (gram, salt), never pinning one task. */
  def jaccardPairs(df: DataFrame, id: String, text: String,
                   threshold: Double, n: Int = 1,
                   maxDf: Int = 10000): DataFrame =
    cappedIntersections(df, id, text, n, maxDf)
      .withColumn("jaccard", col("c") * lit(1.0) / (col("n1") + col("n2") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))

  /** The df-capped inverted-index intersection pipeline shared by the
    * set-similarity scorers ([[jaccardPairs]], [[containmentPairs]]):
    * returns one row per intersecting unordered pair with the overlap
    * and both filtered set sizes — (d1, d2, c, n1, n2), d1 < d2. The
    * cap/salting semantics live HERE once; scorers only differ in the
    * measure they derive from these five integers. */
  private def cappedIntersections(df: DataFrame, id: String, text: String,
                                  n: Int, maxDf: Int): DataFrame = {
    val s = saltBuckets(df)
    // shingles are distinct within a doc, so occurrence count == df
    val g = df.select(col(id).as("doc_id"), explode(shingles(col(text), n)).as("gram"))
      .withColumn("_salt", pmod(hash(col("doc_id")), lit(s)))
    val keepBuckets = saltedGramCounts(g, col("_salt"), s)
      .filter(col("df") <= maxDf)
      .select(col("gram"), col("_salt"))
    // NULL-key rule: NULL-key docs' grams count toward df above, but a
    // pair needs two addressable docs — keep them out of the posting
    // self-join (d1 < d2 would drop them after the join anyway)
    // `t` feeds THREE consumers (the size aggregation and both posting
    // self-join sides), and each consumer otherwise re-runs the whole
    // tokenize → salted-df-count → semi-join pipeline from the scan
    // (measured: 16 parquet scans in dedup_ngram_jaccard's plan, zero
    // exchange reuse). Materialize the capped posting list once per run
    // via BoundedCache.perRun (r18: cluster-safe persist with lineage,
    // previous run's frame evicted so nothing is retained across runs —
    // replaces the r17 `localCheckpoint`, whose unreplicated
    // lineage-free blocks would make an executor loss unrecoverable at
    // cluster scale). At 100 TB this is the classic "tokenize once, join
    // many" trade: one corpus-sized materialization against three
    // re-tokenizations of the corpus.
    val t = BoundedCache.perRun("TextDedup.cappedIntersections",
      g.filter(col("doc_id").isNotNull)
        .join(keepBuckets, Seq("gram", "_salt"), "left_semi")
        .select(col("doc_id"), col("gram").as("w")))
    val sz = t.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shared = t.select(col("doc_id").as("d1"), col("w"))
      .join(t.select(col("doc_id").as("d2"), col("w")), Seq("w"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("c"))
    shared
      .join(sz.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(sz.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
  }

  /** Asymmetric shingle-set CONTAINMENT over inverted-index candidate
    * pairs (Broder's second resemblance measure): C(A,B) = |A∩B| / |A|.
    * Near-1 containment with low Jaccard is the "small doc swallowed by
    * a big one" case — a quote, a boilerplate block, a chapter inside a
    * compilation — which symmetric near-dup misses by construction
    * (Jaccard is bounded by |A|/|B|). Emits BOTH directions of each
    * intersecting pair: (src, within, containment) meaning `containment`
    * of src's shingles also appear in `within`.
    *
    * Same scale discipline as [[jaccardPairs]]: grams with document
    * frequency above `maxDf` are dropped BEFORE the self-join (salted
    * df counting), so no posting list goes quadratic; sizes and
    * intersections are both computed over the filtered universe. */
  def containmentPairs(df: DataFrame, id: String, text: String,
                       threshold: Double, n: Int = 1,
                       maxDf: Int = 10000): DataFrame = {
    val sized = cappedIntersections(df, id, text, n, maxDf)
    // one undirected intersection row fans to its two directed readings
    // IN THE SAME PASS (explode of a 2-element struct array, an Expand —
    // a unionAll of two projections would re-execute the whole upstream
    // posting join per branch: 16 scans / 22 exchanges in PLANSTATS vs
    // 8 / 11 for this form)
    val directed = sized.select(explode(array(
        struct(col("d1").as("src"), col("d2").as("within"),
          (col("c") * lit(1.0) / col("n1")).as("containment")),
        struct(col("d2").as("src"), col("d1").as("within"),
          (col("c") * lit(1.0) / col("n2")).as("containment")))).as("p"))
      .select(col("p.src").as("src"), col("p.within").as("within"),
        col("p.containment").as("containment"))
    directed.filter(col("containment") >= threshold)
      .select(col("src"), col("within"),
        round(col("containment"), 6).as("containment"))
  }

  /** 63-bit SimHash (bits 0..62 keep the value in a signed BIGINT):
    * bit b of md5(token)'s leading 16 hex chars, majority-voted across the
    * doc's tokens, packed with shiftleft. Engine-portable bit grammar.
    *
    * ROW-LOCAL shape: the whole signature is one compiled loop per row
    * through the native [[graft.plans.SimHash64]] Catalyst expression —
    * md5 once per token, per-bit counts in a flat int array, no explode
    * and no shuffle at any corpus size. Earlier forms for the record:
    * the tokens×63-bits explode paid two shuffled aggregations over a
    * 63×-inflated row stream (~6 s for the sf0.1 corpus); the interpreted
    * HOF fold (aggregate of zip_with with the packing in the finish
    * lambda — it must live in the SAME aggregate, or CollapseProject
    * inlines the token fold into the per-bit lambda for a 63×
    * re-evaluation, measured 179 s) ran ~1.4 s; the native expression
    * runs the identical integer math in a tight loop, bit-exact vs the
    * oracle. */
  def simhash(df: DataFrame, id: String, text: String): DataFrame = {
    // row-local (no groupBy), so NULL-key rows keep their OWN signature
    // (no chimera merge) and NULL text yields a NULL signature; the
    // pairing stages' `d1 < d2` predicate keeps NULL keys out of pairs
    df.select(col(id).as("doc_id"),
      column(graft.plans.SimHash64(expression(tokens(col(text))))).as("simhash"))
  }

  /** Connected components over an undirected near-dup pair graph —
    * the clustering pass that turns pairwise candidates (LSH / SimHash /
    * Jaccard output) into dedup groups with a canonical representative
    * (min id) per group.
    *
    * Algorithm: min-label propagation. Each superstep sends every
    * vertex's current label to its neighbors and keeps the minimum; the
    * loop ends when no label changes. Each superstep is one equi-join +
    * one aggregation, both hash-partitioned on vertex id — no driver-side
    * graph state, and every superstep is cached ([[Fixpoint]]) so
    * superstep N does not replay supersteps 1..N-1. Converges in
    * O(cluster diameter) supersteps; near-dup graphs are shallow (dup
    * groups are quasi-cliques), so 2-3 supersteps is typical. For
    * adversarially deep graphs swap in large-star/small-star (Kiveris et
    * al., "Connected Components in MapReduce") — same join primitives.
    *
    * @return (id, label) — label is the min vertex id reachable from id,
    *         i.e. the cluster id; a vertex with no edges keeps its own id.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame): DataFrame =
    Fixpoint.run("TextDedup.connectedComponents", vertices.sparkSession) { loop =>
      // graph hygiene, matching [[connectedComponentsStar]] exactly: a
      // NULL-endpoint edge is unaddressable and drops (ccStar's canonical
      // u =!= v filter discards it as UNKNOWN); endpoints NOT in `vertices`
      // may relay connectivity during propagation but never surface —
      // without the final restriction the superstep groupBy MINTS output
      // rows for undeclared endpoints, and a NULL-id vertex absorbed its
      // NULL-edge neighbor's label (min() skips NULLs)
      // symmetrize by EXPLODING each pair into both directions instead of
      // union-of-two-selects: the union form evaluates the (expensive —
      // SimHash/LSH banding) pair pipeline twice before the persist; the
      // explode form scans it exactly once for the same rows (r17
      // optimization round, guide §2.4 "don't compute things twice")
      val sym = loop.keep(loop.bind(edges).filter(col("d1").isNotNull && col("d2").isNotNull)
        .select(explode(array(
          struct(col("d1").as("src"), col("d2").as("dst")),
          struct(col("d2").as("src"), col("d1").as("dst")))).as("_e"))
        .select(col("_e.src").as("src"), col("_e.dst").as("dst")))
      // `_declared` rides the superstep aggregate so undeclared edge
      // endpoints (which the propagation legitimately MINTS as relay
      // rows, exactly like ccStar's edge-walk) can be filtered from the
      // output without a final join against `vertices` — one boolean per
      // row instead of two extra shuffle exchanges
      val init = loop.bind(vertices)
        .select(col("id"), col("id").as("label"), lit(true).as("_declared"))
      // labels only ever decrease, so sum(label) strictly decreases until
      // the fixpoint — one scalar aggregate replaces a compare-to-previous
      // join as the convergence check. Exactly one superstep per cached
      // frame: the propagated frame feeds the NEXT plan through both the
      // union and the join branch, so an unmaterialized intermediate
      // superstep would be evaluated twice (measured 40% slower when
      // batching two supersteps per materialization)
      def labelSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
          .head().getDecimal(0) // decimal: no overflow ambiguity at any id scale
      loop.converge(init, labelSum) { l =>
        val viaNeighbor = sym.join(l, sym("src") === l("id"))
          .select(col("dst").as("id"), col("label"), lit(false).as("_declared"))
        l.union(viaNeighbor).groupBy(col("id"))
          .agg(min(col("label")).as("label"), max(col("_declared")).as("_declared"))
      }((prev, s, _, _) => s == prev)
    }
    // only declared vertices surface (relay rows drop); a NULL-id vertex
    // keeps its own NULL label — min() over its self row only, since the
    // NULL-edge filter above means it never receives a neighbor label
    .filter(col("_declared")).select(col("id"), col("label"))

  /** Connected components by large-star/small-star alternation (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — same
    * contract as [[connectedComponents]] ((id, label), label = min id of
    * the component), but O(log² n) supersteps instead of O(diameter):
    * the variant for adversarially DEEP graphs (long chains), where
    * min-label propagation pays one superstep per hop.
    *
    * Edges are kept canonical (u, v) with u > v. Each round:
    *   - large-star: every strictly-larger neighbor of u re-points to
    *     m = min(Γ(u) ∪ {u}) — doubles star depth collapse from above;
    *   - small-star: u and its smaller neighbors re-point to u's min
    *     neighbor — flattens the local tree.
    * Both are one symmetrize/group + one equi-join, vertex-keyed like
    * the min-label superstep. Endpoint sums strictly decrease every
    * productive round (edges only ever re-point to smaller ids), so the
    * fixpoint check is the same scalar-aggregate trick as
    * [[connectedComponents]]; at the fixpoint the edge set is a star
    * forest — every non-root points directly at its component's min. */
  def connectedComponentsStar(vertices: DataFrame, edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def canon(e: DataFrame): DataFrame = e
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("_u"), least(col("u"), col("v")).as("_v"))
      .select(col("_u").as("u"), col("_v").as("v"))
      .distinct()
    // explode-symmetrize (r17 optimization round): the union forms read
    // their input once per branch; the explode forms emit the same rows
    // from a single scan — per ROUND of the fixpoint loop that halves
    // the cached-block reads (largeStar) and removes a duplicated
    // join+aggregation (smallStar's withMin fed two union branches).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("_e"))
        .select(col("_e.u").as("u"), col("_e.v").as("v"))
      val m = sym.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("mn"))
      sym.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("mn").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // canonical edges all point downward, so every neighbor in the
      // grouped direction is <= u and mn is the component-local min seen;
      // the second direction only emits when v is not already the min
      val m = e.groupBy(col("u")).agg(min(col("v")).as("mn"))
      e.join(m, Seq("u"))
        .select(explode(array(
          struct(col("u").as("a"), col("mn").as("b"), lit(true).as("keep")),
          struct(col("v").as("a"), col("mn").as("b"),
            (col("v") =!= col("mn")).as("keep")))).as("_s"))
        .filter(col("_s.keep"))
        .select(col("_s.a").as("u"), col("_s.b").as("v"))
        .distinct()
    }
    def sums(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum((col("u") + col("v")).cast(DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 0)))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    // the cheap scalar pair (count, endpoint sum) screens every round; an
    // exact set compare CONFIRMS the fixpoint (runs once, on the final
    // star forest) so a scalar collision can never stop us early
    val forest = Fixpoint.run("TextDedup.connectedComponentsStar", edges.sparkSession) { loop =>
      loop.converge(canon(loop.bind(edges).select(col("d1").as("u"), col("d2").as("v"))), sums)(
        e => smallStar(largeStar(e))) { (prev, s, parent, e) =>
        s == prev && e.exceptAll(parent).isEmpty
      }
    }
    vertices.select(col("id"))
      .join(forest.select(col("u").as("id"), col("v").as("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** [[simhashPairs]] through banded LSH — the plan that survives 100 TB.
    * The 63 signature bits split into `maxHamming + 1` contiguous bands;
    * by pigeonhole, any pair within `maxHamming` differing bits agrees
    * EXACTLY on at least one whole band, so candidate generation is an
    * equi-join on (band, band bits) — hash-partitionable, no cross
    * product anywhere — and the exact Hamming filter over candidates
    * makes the result identical to the quadratic form. Cost moves from
    * O(n²) comparisons to Σ|bucket|² over near-dup buckets, which is the
    * same asymptotic bargain MinHash banding strikes (SURVEY §2.8).
    *
    * Degenerate mega-buckets (a constant band value across a huge slice
    * of the corpus) are skipped past `maxBucketSize` — the same guard as
    * [[lshCandidatePairs]], and the explicit recall trade of banded LSH:
    * a bucket of B docs contributes B²/2 candidate pairs, so one hot
    * bucket dominates the join; a pair is only LOST if every band it
    * agrees on is capped, and mining near-dups inside a degenerate
    * bucket belongs to a clustering pass, not pairwise LSH. */
  def simhashBandPairs(sigs: DataFrame, maxHamming: Int,
                       maxBucketSize: Int = 4096): DataFrame = {
    val nBands = maxHamming + 1
    require(nBands <= 63, "need at least one bit per band")
    val bands = (0 until nBands).map { b =>
      val start = b * 63 / nBands
      val width = (b + 1) * 63 / nBands - start
      struct(lit(b).as("band"),
        shiftright(col("simhash"), start).bitwiseAND(lit((1L << width) - 1)).as("bits"))
    }
    // persist the signature frame: both self-join sides derive from it,
    // and the pipeline above it (explode × bits, two shuffled
    // aggregations) must not be computed twice — same reasoning as
    // simhashPairs / lshCandidatePairs. The banded expansion itself stays
    // uncached: it is a cheap narrow explode over the cached signatures,
    // and leaving it transparent lets the optimizer plan the self-join
    // from undistorted per-side statistics.
    // spread the signature cache across the cluster before persisting:
    // map-only signatures inherit the INPUT's split count (often one file
    // at fixture scale), and a 1-partition cache starves every downstream
    // stage that fans out of it. One narrow exchange of (id, 64-bit) rows.
    val cached = BoundedCache.persist("TextDedup.simhashBandPairs.sigs",
      sigs.repartition(col("doc_id")))
    // bucket-size guard, same semantics as lshCandidatePairs' cap but a
    // different plan: aggregate the OVERSIZED buckets (partial-agg'd,
    // normally an empty or near-empty set — only degenerate buckets
    // qualify) and broadcast-anti-join them out. A window count here
    // would sit between the explode and the self-join and knock the
    // join's probe side out of whole-stage codegen — measured 14.6 s vs
    // 1.3 s at sf0.1 for the 15M-pair probe.
    val raw = cached.select(col("doc_id"), col("simhash"),
      explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bits").as("bits"))
    val oversized = raw.groupBy(col("band"), col("bits"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBucketSize)
      .select(col("band"), col("bits"))
    val banded = raw.join(broadcast(oversized), Seq("band", "bits"), "left_anti")
    val a = banded.select(col("band"), col("bits"),
      col("doc_id").as("d1"), col("simhash").as("s1"))
    val b = banded.select(col("band"), col("bits"),
      col("doc_id").as("d2"), col("simhash").as("s2"))
    // Hamming filter BEFORE the dedup shuffle: bit_count is a per-row
    // integer op, while distinct() shuffles its whole input — filtering
    // first shrinks that shuffle to the near-dup survivors (the candidate
    // set is orders of magnitude larger than the result at scale).
    // distinct commutes with the deterministic filter, so results are
    // identical.
    a.join(b, Seq("band", "bits")).filter(col("d1") < col("d2"))
      .withColumn("ham", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("ham") <= maxHamming)
      .select(col("d1"), col("d2"), col("ham"))
      .distinct() // a pair may agree on several bands
  }

  /** Hamming-distance pairs over SimHash signatures — the QUADRATIC
    * evaluation form: an all-pairs cross product, O(n²) comparisons by
    * construction. Contract: inputs are BOUNDED evaluation slices (every
    * caller in the pack passes ≤128 docs); the corpus-scale path is
    * [[simhashBandPairs]], which returns the same pairs through a banded
    * equi-join. Because nothing structural stops a future caller handing
    * this the full corpus, the input cardinality is counted up front (the
    * frame is persisted anyway, so the count is a cheap cached scan) and
    * anything past `graft.dedup.simhashPairsMaxSigs` signatures (default
    * 4096 ≈ 8M comparisons) fails loudly, naming the banded alternative.
    * Persists the signature frame — both sides of the self-join
    * reference it. */
  def simhashPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val cached = BoundedCache.persist("TextDedup.simhashPairs.sigs",
      sigs.repartition(col("doc_id")))
    val maxSigs = cached.sparkSession.conf
      .getOption("graft.dedup.simhashPairsMaxSigs").map(_.toInt).getOrElse(4096)
    val n = cached.count()
    require(n <= maxSigs,
      s"simhashPairs is all-pairs O(n²) and was handed $n signatures " +
        s"(cap $maxSigs via conf graft.dedup.simhashPairsMaxSigs); " +
        "use simhashBandPairs for corpus-scale near-dup search")
    val a = cached.select(col("doc_id").as("d1"), col("simhash").as("s1"))
    val b = cached.select(col("doc_id").as("d2"), col("simhash").as("s2"))
    a.crossJoin(b).filter(col("d1") < col("d2"))
      .withColumn("ham", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("ham") <= maxHamming)
      .select(col("d1"), col("d2"), col("ham"))
  }

  /** CCNet-style duplicated-line removal — the boilerplate scrub that
    * precedes model training (headers, navigation bars, license blocks
    * repeat across a crawl; CCNet drops any line seen more than once
    * corpus-wide). Documents re-chunk into fixed `lineTokens`-token
    * lines; every line whose exact content occurs in more than `maxDf`
    * lines across the corpus is dropped from ALL documents, and the
    * survivors rebuild in order. Returns
    * (id, n_lines, n_kept, cleaned_md5).
    *
    * Scale shape: one narrow explode to (doc, idx, line); line
    * frequencies are counted per (line, salt) first and folded — the hot
    * boilerplate lines that motivate the operator never concentrate
    * their occurrence rows on one task (same salting discipline as
    * [[exactSubstringDedup]]'s grams); the over-DF line set is tiny by
    * construction (it is the boilerplate vocabulary, not the corpus) and
    * broadcasts into an anti-join; the rebuild is a doc-keyed
    * aggregation over doc-bounded rows. */
  def lineDedup(docs: DataFrame, id: String, text: String,
                lineTokens: Int = 8, maxDf: Int = 1): DataFrame = {
    val nSalt = docs.sparkSession.conf
      .getOption("graft.dedup.gramSaltBuckets").map(_.toInt).getOrElse(16)
    val toks = split(col(text), " ")
    val nLines = ceil(size(toks) / lit(lineTokens.toDouble)).cast("int")
    val lineArr = when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nLines - 1), i =>
        array_join(slice(toks, i * lineTokens + 1, lit(lineTokens)), " ")))
    val lines = BoundedCache.persist("TextDedup.lineDedup.lines",
      docs.select(col(id), posexplode(lineArr).as(Seq("line_idx", "line")))
        .repartition(col(id)))
    val hot = lines
      .groupBy(col("line"),
        pmod(hash(col(id), col("line_idx")), lit(nSalt)).as("__salt"))
      .agg(count(lit(1)).as("pn"))
      .groupBy(col("line")).agg(sum(col("pn")).as("n"))
      .filter(col("n") > maxDf)
      .select(col("line"))
    // NULL-key rule (object doc): hot counts above see every doc's lines
    // (key-agnostic content frequency); the per-doc rebuild below only
    // addresses keyed docs — the old join-back on the key silently
    // dropped a NULL-key doc's kept lines and reported 0/md5("")
    val keyed = lines.filter(col(id).isNotNull)
    val kept = keyed.join(broadcast(hot), Seq("line"), "left_anti")
    val totals = keyed.groupBy(col(id)).agg(count(lit(1)).as("n_lines"))
    val rebuilt = kept.groupBy(col(id))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("line_idx"), col("line")))),
          x => x.getField("line")), " ")).as("cleaned_md5"))
    // unassessable rows (NULL key, or NULL text which explodes to no
    // lines): computable size, NULL dedup columns
    val unassessable = docs.filter(col(id).isNull || col(text).isNull)
      .select(col(id), nLines.cast("long").as("n_lines"),
        lit(null).cast("long").as("n_kept"),
        lit(null).cast("string").as("cleaned_md5"))
    totals.join(rebuilt, Seq(id), "left")
      .select(col(id), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_md5"), md5(lit(""))).as("cleaned_md5"))
      .unionByName(unassessable)
  }

  /** Train/eval decontamination by n-gram overlap (the GPT-3/Llama
    * pretraining hygiene step): per training doc, how many of its
    * distinct n-gram shingles also appear anywhere in the eval corpus.
    * Returns (id, n_grams, n_overlap, contaminated).
    *
    * Scale shape: the eval side collapses to its DISTINCT gram set —
    * eval corpora are tiny next to training data (thousands of prompts
    * vs billions of docs), so the set broadcasts and the train side is
    * ONE narrow explode + a broadcast hash join + a hash agg keyed by
    * doc — no gram-keyed shuffle of the 100 TB side at all. Docs shorter
    * than n tokens have no shingles and drop out (nothing to test). */
  def contamination(train: DataFrame, eval: DataFrame, id: String,
                    text: String, n: Int): DataFrame = {
    val evalGrams = eval
      .select(explode(shingles(col(text), n)).as("gram"))
      .distinct()
      .withColumn("hit", lit(1))
    // NULL-key rule (object doc): the groupBy would merge NULL-key train
    // docs into one chimera row; they surface unassessable instead
    // (shingle-less docs drop out here too — nothing to test)
    val unassessable = train.filter(col(id).isNull)
      .select(col(id), size(shingles(col(text), n)).cast("long").as("n_grams"),
        lit(null).cast("long").as("n_overlap"),
        lit(null).cast("boolean").as("contaminated"))
      .filter(col("n_grams") > 0)
    train.filter(col(id).isNotNull)
      .select(col(id), explode(shingles(col(text), n)).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
      .unionByName(unassessable)
  }

  /** Span-level decontamination — the SURGICAL form of [[contamination]]:
    * instead of flagging a training doc that overlaps the eval corpus,
    * REMOVE every token span covered by an n-gram that appears anywhere
    * in the eval set and stitch the survivors back in order (the
    * exact-substring decontamination stage run against benchmarks before
    * pretraining). Returns (id, n_tokens, n_kept, cleaned_md5,
    * over_length) — docs past `maxTokens` skip the rebuild, flagged.
    *
    * Scale shape: the same asymmetry as [[contamination]] — the eval
    * gram set collapses to DISTINCT and broadcasts, so the 100 TB train
    * side never shuffles by gram (a semi join per positional gram, all
    * map-side) — composed with [[exactSubstringDedup]]'s rebuild
    * (bounded cover explode, (doc,pos)-keyed dedup + anti join,
    * partition-local ordered reassembly). */
  def decontaminateSpans(train: DataFrame, eval: DataFrame, id: String,
                         text: String, n: Int,
                         maxTokens: Int = DefaultMaxRebuildTokens): DataFrame = {
    val nTok = size(split(col(text), " ")).cast("long")
    val evalGrams = eval.select(explode(shingles(col(text), n)).as("gram")).distinct()
    // doc-length gate (same flag-and-skip as [[exactSubstringDedup]]):
    // a train doc past maxTokens skips the whole gram-probe + rebuild
    // path — unlike the corpus-count case its grams matter to NOBODY
    // else (only eval grams drive removal), so the skip is total.
    // NULL-key docs skip too (object doc): the rebuild can't address them
    val inScope = train.filter(nTok <= maxTokens && col(id).isNotNull)
    val toks = inScope.select(col(id),
      posexplode(split(col(text), " ")).as(Seq("pos", "w")))
    val hitStarts = inScope.select(col(id),
        posexplode(positionalShingles(col(text), n)).as(Seq("gpos", "gram")))
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .select(col(id), col("gpos"))
    val covered = hitStarts
      .select(col(id), explode(sequence(col("gpos"), col("gpos") + (n - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq(id, "pos"), "left_anti")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ")).as("cleaned_md5"))
    val over = col("n_tokens") > maxTokens
    // NULL-key rule: same unassessable treatment as [[exactSubstringDedup]]
    val unassessed = col(id).isNull || col("_text").isNull
    train.select(col(id), nTok.as("n_tokens"), col(text).as("_text"))
      .join(kept, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        when(unassessed, lit(null).cast("long"))
          .when(over, col("n_tokens"))
          .otherwise(coalesce(col("n_kept"), lit(0L))).as("n_kept"),
        when(unassessed, lit(null).cast("string"))
          .when(over, md5(col("_text")))
          .otherwise(coalesce(col("cleaned_md5"), md5(lit("")))).as("cleaned_md5"),
        when(unassessed, lit(null).cast("boolean")).otherwise(over).as("over_length"))
  }

  /** Duplicate-shingle fraction per document (the RefinedWeb/Dolma
    * corpus-duplication profile): the share of a doc's distinct n-gram
    * shingles that occur in at least `minDocs` documents. High fractions
    * mark boilerplate/mirrored content that survives exact dedup.
    * Returns (id, n_shingles, n_dup, dup_frac).
    *
    * Scale shape: one explode, then SALTED gram counting (see
    * [[saltedGramCounts]]) — document frequencies pre-aggregate per
    * (gram, salt) before the gram-keyed exchange, so a boilerplate gram
    * shared by billions of docs collapses to S rows instead of pinning
    * one task — a left join back on (gram, salt) to mark duplicated
    * shingles (each salt bucket of a hot gram joins independently), then
    * a hash agg back on the doc key. */
  def duplicateShingleFraction(docs: DataFrame, id: String, text: String,
                               n: Int, minDocs: Int = 2): DataFrame = {
    val s = saltBuckets(docs)
    // per-doc distinct grams: salt on id alone is already uniform
    val g = docs.select(col(id), explode(shingles(col(text), n)).as("gram"))
      .withColumn("_salt", pmod(hash(col(id)), lit(s)))
    val dupBuckets = saltedGramCounts(g, col("_salt"), s)
      .filter(col("df") >= minDocs)
      .select(col("gram"), col("_salt"), lit(1).as("_hit"))
    // NULL-key rule (object doc): every doc's grams feed the df counts
    // above; the per-doc profile below only addresses keyed docs — the
    // groupBy would otherwise merge all NULL-key docs into one chimera
    // row. Unassessable rows keep their computable shingle count and
    // NULL the dup columns; like keyed docs, rows with NO shingles
    // (NULL text, or shorter than n tokens) drop out — nothing to
    // profile (same convention as [[contamination]]).
    val unassessable = docs.filter(col(id).isNull)
      .select(col(id), size(shingles(col(text), n)).cast("long").as("n_shingles"),
        lit(null).cast("long").as("n_dup"),
        lit(null).cast("double").as("dup_frac"))
      .filter(col("n_shingles") > 0)
    g.filter(col(id).isNotNull)
      .join(dupBuckets, Seq("gram", "_salt"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("_hit"), lit(0))).cast("long").as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_shingles").cast("double"), 6))
      .unionByName(unassessable)
  }
}
