package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text analysis for training-data pipelines (SURVEY.md §7.1 item 8):
  * language-ID heuristics, quality scoring, token counting, and document
  * fingerprinting. All pure per-row column programs — narrow, codegen'd,
  * linear scale-out; the only shuffle anywhere is a presentation sort. */
object TextAnalysis {

  private val enMarkers = Seq("the", "a", "of", "and", "to", "is")

  /** n-gram/stopword language-ID heuristic: ratio of English marker words
    * among tokens (a real system adds per-language marker sets and argmax —
    * same plan, more columns). */
  def langId(text: Column): (Column, Column, Column) = {
    val toks = split(text, " ")
    val markers = size(filter(toks, t => t.isin(enMarkers: _*))).cast("long")
    val n = size(toks).cast("long")
    val predicted = when(markers * lit(1.0) / n >= 0.05, "en").otherwise("unk")
    (markers, n, predicted)
  }

  /** Composite quality score in [0,1]: token-diversity + non-stopword
    * density + length saturation. Deterministic double arithmetic. */
  def qualityScore(text: Column): Column = {
    val toks = split(text, " ")
    val n = size(toks).cast("double")
    val distinctRatio = size(array_distinct(toks)).cast("double") / n
    val stopRatio = size(filter(toks, t => t.isin(enMarkers: _*))).cast("double") / n
    round(lit(0.4) * distinctRatio + lit(0.4) * (lit(1.0) - stopRatio)
      + lit(0.2) * least(lit(1.0), n / 50.0), 6)
  }

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1), each
    * surfaced as its own flag so downstream filters can mix and match:
    * word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    * alphabetic-word fraction, and a minimum stop-word count. Entirely
    * row-local (array folds over the token list — no explode, no
    * shuffle); integer/boolean outputs plus exact integer-ratio doubles,
    * so the flags are engine-invariant. Returns the flag columns in
    * order: (n_words, mean_word_len, alpha_frac, n_stopwords,
    * f_word_count, f_mean_len, f_symbol, f_alpha, f_stopwords, pass). */
  def gopherQualityFlags(text: Column): Seq[Column] = {
    val toks = split(text, " ")
    val n = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (acc, w) => acc + length(w).cast("long"))
    val meanLen = sumLen.cast("double") / n.cast("double")
    val nAlpha = size(filter(toks, w => w.rlike("[a-z]"))).cast("long")
    val alphaFrac = nAlpha.cast("double") / n.cast("double")
    val nSym = size(filter(toks, w => w.rlike("[#…]"))).cast("long")
    val stopwords = array(Seq("the", "be", "to", "of", "and", "that",
      "have", "with", "a", "in").map(lit): _*)
    val nStop = aggregate(stopwords, lit(0L), (acc, sw) =>
      acc + when(array_contains(toks, sw), 1L).otherwise(0L))
    val fWords = n >= 50 && n <= 100000
    val fMean = meanLen >= 3.0 && meanLen <= 10.0
    val fSym = nSym.cast("double") / n.cast("double") < 0.1
    val fAlpha = alphaFrac >= 0.8
    val fStop = nStop >= 2
    Seq(n.as("n_words"), round(meanLen, 6).as("mean_word_len"),
      round(alphaFrac, 6).as("alpha_frac"), nStop.as("n_stopwords"),
      fWords.as("f_word_count"), fMean.as("f_mean_len"), fSym.as("f_symbol"),
      fAlpha.as("f_alpha"), fStop.as("f_stopwords"),
      (fWords && fMean && fSym && fAlpha && fStop).as("quality_pass"))
  }

  /** Token counts: whitespace tokens, regex word tokens, and a bytes/4
    * BPE-style token estimate. */
  def tokenCounts(text: Column): (Column, Column, Column) = (
    size(split(text, " ")).cast("long"),
    size(regexp_extract_all(text, lit("[a-z0-9]+"), lit(0))).cast("long"),
    ceil(length(text) / 4.0).cast("long"))

  /** A small ranked BPE merge vocabulary (classic high-frequency English
    * merges; later entries compose earlier merged symbols — th+e, in+g —
    * which is the property that makes the APPLY order matter). A
    * production vocabulary is a versioned artifact loaded as config, not
    * derived per query — a plan literal models that honestly, and swapping
    * in a learned table changes nothing about the plan shape. */
  val bpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r", "o" -> "n",
    "r" -> "e", "a" -> "t", "e" -> "s", "o" -> "r", "e" -> "n", "t" -> "i",
    "an" -> "d", "in" -> "g", "s" -> "t", "l" -> "e")

  /** BPE tokenizer APPLICATION — the serve half whose train half is
    * text_bpe_merge_candidates: encode text against a fixed ranked merge
    * list. Classic algorithm on the char-spaced form: lowercase, strip
    * non-letters, put a space after every letter (word gaps become DOUBLE
    * spaces, so a single-space merge pattern can never cross a word
    * boundary), then apply each merge in rank order as one global
    * `\ba b\b → ab` replace — occurrences are space-separated tokens, so
    * consecutive matches never overlap and one pass per rule is exact.
    * Every step is a codegen'd row-local regexp_replace: no UDF, no
    * shuffle, the narrow-transform shape that runs identically at any
    * scale; \b and the replace semantics agree between Java regex and
    * RE2, which is what lets DuckDB run the identical chain as the
    * oracle. Returns the space-separated token string (NULL text → NULL). */
  def bpeEncode(text: Column, merges: Seq[(String, String)] = bpeMerges): Column = {
    validateMerges(merges)
    // the regex-chain depth IS the expression-tree depth: right for a
    // config vocabulary, wrong for a trained one (a 32k-merge chain blows
    // whole-stage codegen's method limit and pays a regex scan per merge)
    // — trained vocabularies serve through [[bpeEncodeTrained]]'s
    // single-expression pass instead
    require(merges.size <= 64,
      s"bpeEncode: a ${merges.size}-merge vocabulary would fold a ${merges.size}-deep " +
        "regexp_replace chain into the plan — serve trained vocabularies via bpeEncodeTrained")
    applyMerges(charSpaced(text), merges)
  }

  /** [[bpeEncode]] for TRAINED vocabularies of any size: the same
    * normalization and the same ranked-merge grammar, but the whole merge
    * table travels as ONE plan literal into the native
    * graft.plans.BpeApplyMerges expression (one compiled adjacent-token
    * scan per merge — chain depth constant in vocabulary size). The two
    * paths are pinned equal by TextAnalysisSpec's equivalence property;
    * applyMerges stays the single statement of the train/serve rule. */
  def bpeEncodeTrained(text: Column, merges: Seq[(String, String)]): Column = {
    validateMerges(merges)
    column(graft.plans.BpeApplyMerges(expression(charSpaced(text)),
      expression(lit(merges.map { case (a, b) => s"$a $b" }.mkString(",")))))
  }

  /** Symbols are interpolated into regex patterns (and, in the declared
    * queries' oracles, into SQL literals) — constrain them to the only
    * alphabet the normalization can produce, so a learned vocabulary
    * carrying regex metacharacters or quotes fails loudly here instead
    * of silently matching the wrong text or breaking the generated SQL. */
  private def validateMerges(merges: Seq[(String, String)]): Unit =
    require(merges.forall { case (a, b) =>
      a.matches("[a-z]+") && b.matches("[a-z]+") },
      "BPE merge symbols must be lowercase ASCII letters")

  /** The shared pre-tokenization: lowercase, strip non-letters, space
    * after every letter (word gaps become DOUBLE spaces, so a
    * single-space merge pattern can never cross a word boundary).
    * ASCII-strip BEFORE lower(): Java's full Unicode case mapping and
    * DuckDB's utf8proc disagree on characters like U+0130 ('İ' lowers to
    * 'i'+combining-dot in Java, 'i̇'≠'istanbul' split), so case-fold must
    * only ever see [A-Za-z] — codepoint-class regexes agree exactly. */
  private def charSpaced(text: Column): Column =
    regexp_replace(lower(regexp_replace(text, "[^A-Za-z]+", " ")), "([a-z])", "$1 ")

  /** The one statement of the merge-application rule — a global
    * `\ba b\b → ab` replace per ranked pair — shared by the encoder
    * ([[bpeEncode]]) and the trainer's per-round re-count ([[bpeTrain]]):
    * the rule IS the train/serve contract, so it must not exist twice. */
  private def applyMerges(spaced: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(spaced) { case (c, (a, b)) =>
      regexp_replace(c, "\\b" + a + " " + b + "\\b", a + b)
    }

  /** Iterative BPE TRAINER — the loop that LEARNS the ranked merge list
    * the encoder serves (text_bpe_merge_candidates scores one round; this
    * is the full train loop, the tokenizer sibling of
    * Similarity.kmeansFit's Lloyd iteration). Classic algorithm over the
    * char-spaced vocabulary: count adjacent symbol pairs weighted by word
    * frequency, merge the top pair (count desc, then lexical on both
    * symbols — fully deterministic), re-count; later rounds' pairs
    * compose earlier rounds' merged symbols.
    *
    * Distribution shape: Spark runs exactly ONE corpus aggregation — the
    * (word, freq) vocabulary collapse, whose output Heaps' law bounds far
    * below corpus size — and the merge loop runs DRIVER-LOCAL on the
    * collected vocabulary with incremental pair statistics (the classic
    * BPE trick: a merge only disturbs the counts of words it touches, so
    * each round retracts and re-admits the AFFECTED words' pair
    * contributions instead of rescanning the vocabulary, and the next
    * argmax comes off a sorted mirror in O(log P)). A realistic 32k-merge
    * training run is therefore one Spark job plus a driver loop whose
    * total work is bounded by merge applications — NOT 32k sequential
    * Spark jobs with an ever-deepening re-count plan, which is what the
    * r16 per-round relational form cost (one aggregation and one driver
    * round-trip per merge). The vocabulary guard makes the
    * collected-artifact contract loud instead of OOMing the driver.
    * Learned symbols are lowercase ASCII by construction (the
    * normalization's alphabet), so they satisfy the encoders' symbol
    * validation and feed [[bpeEncodeTrained]] directly as a served
    * vocabulary. Returns (lhs, rhs, weighted count) in merge-rank order. */
  def bpeTrain(docs: DataFrame, textCol: String, rounds: Int): Seq[(String, String, Long)] = {
    val vocabDf = docs.select(explode(split(lower(regexp_replace(col(textCol),
        "[^A-Za-z]+", " ")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    // stream the vocabulary to the driver and BAIL at the bound — a
    // guard placed after collect() cannot prevent the OOM it exists to
    // make loud (a 100M-word corpus would kill the driver inside the
    // collect, before any require ran). toLocalIterator holds one
    // partition plus the buffer, so the 4M-and-one-th word aborts with
    // the contract named while the heap is still fine.
    val it = vocabDf.toLocalIterator()
    val vocab = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      require(vocab.length < 4000000,
        "bpeTrain: over 4M distinct words exceeds the driver-local vocabulary " +
          "bound — pre-filter the corpus (min-frequency cut) before training")
      val r = it.next()
      vocab += ((r.getString(0), r.getLong(1)))
    }
    bpeTrainLocal(vocab.toSeq, rounds)
  }

  /** The driver-local merge loop on an already-collected (word, freq)
    * vocabulary. Semantics are exactly the relational form's: per round,
    * the argmax over frequency-weighted adjacent-pair counts (sliding
    * window — overlapping occurrences each count) with the (count desc,
    * lhs, rhs) tiebreak, then one global left-to-right non-overlapping
    * merge of that pair (== applyMerges' `\ba b\b` regex pass). Stops
    * early when every word is a single symbol — a tiny corpus must not
    * crash the trainer, and the declared query's recursive oracle
    * terminates the same way (its pair table empties). */
  private[graft] def bpeTrainLocal(vocab: Seq[(String, Long)],
      rounds: Int): Seq[(String, String, Long)] = {
    import scala.collection.mutable
    val freq = vocab.map(_._2).toArray
    val words: Array[Array[String]] =
      vocab.map(_._1.map(_.toString).toArray).toArray
    val counts = mutable.HashMap.empty[(String, String), Long]
    // word indices currently containing each pair — the incremental
    // update's work list (only these words' stats move on a merge)
    val where = mutable.HashMap.empty[(String, String), mutable.BitSet]
    // argmax mirror of `counts`: ordered (count desc, lhs, rhs) so each
    // round's winner is head(), and every count change is two O(log P)
    // tree updates — no per-round scan of the pair space
    val order = mutable.TreeSet.empty[(Long, String, String)](
      Ordering.Tuple3(Ordering[Long].reverse, Ordering[String], Ordering[String]))
    def bump(p: (String, String), by: Long): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old != 0L) order.remove((old, p._1, p._2))
      val now = old + by
      if (now == 0L) counts.remove(p)
      else { counts(p) = now; order.add((now, p._1, p._2)) }
      ()
    }
    def retract(i: Int): Unit = {
      val w = words(i)
      var j = 0
      while (j < w.length - 1) {
        val p = (w(j), w(j + 1))
        bump(p, -freq(i))
        where.get(p).foreach(_ -= i) // idempotent across repeated pairs
        j += 1
      }
    }
    def admit(i: Int): Unit = {
      val w = words(i)
      var j = 0
      while (j < w.length - 1) {
        val p = (w(j), w(j + 1))
        bump(p, freq(i))
        where.getOrElseUpdate(p, mutable.BitSet.empty) += i
        j += 1
      }
    }
    def mergeOnce(w: Array[String], a: String, b: String): Array[String] = {
      val out = new Array[String](w.length)
      var i = 0; var j = 0
      while (i < w.length) {
        if (i + 1 < w.length && w(i) == a && w(i + 1) == b) {
          out(j) = a + b; i += 2
        } else { out(j) = w(i); i += 1 }
        j += 1
      }
      java.util.Arrays.copyOf(out, j)
    }
    words.indices.foreach(admit)
    val merges = mutable.ArrayBuffer.empty[(String, String, Long)]
    var r = 0
    while (r < rounds && order.nonEmpty) {
      val (n, a, b) = order.head
      merges += ((a, b, n))
      where.getOrElse((a, b), mutable.BitSet.empty).toArray.foreach { i =>
        retract(i)
        words(i) = mergeOnce(words(i), a, b)
        admit(i)
      }
      r += 1
    }
    merges.toSeq
  }

  /** Unicode/punctuation normalization: lowercase, strip non-alphanumerics,
    * collapse whitespace — the canonical pre-tokenization step. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), "\\s+", " "))

  /** All n-gram occurrences (non-distinct, for frequency counting;
    * TextDedup.shingles is the distinct-set variant for similarity) —
    * the positional form of the native compiled shingle loop. */
  def ngrams(text: Column, n: Int): Column =
    graft.ext.TextDedup.positionalShingles(text, n)

  /** Rolling polynomial fingerprint over the token stream
    * (h = (h*31 + ascii(w) + len(w)) mod 1e9+7): order-sensitive, unlike
    * the canonical set fingerprint in TextDedup. */
  def rollingFingerprint(text: Column): Column =
    aggregate(
      transform(split(text, " "), w => (ascii(w) + length(w)).cast("long")),
      lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L)

  /** Gopher-style repetition signals: (top_token_frac, dup_bigram_frac).
    * top_token_frac = occurrences of the single most frequent token / total
    * tokens; dup_bigram_frac = 1 − distinct bigrams / total bigrams. Both
    * are pure per-row array programs — no shuffle, so the filter runs at
    * scan speed on any corpus size. O(d·n) per row (d = distinct tokens),
    * fine for documents; switch to a sorted-run fold for very long docs. */
  def repetitionStats(text: Column): (Column, Column) = {
    val toks = split(text, " ")
    val n = size(toks).cast("double")
    val topCount = array_max(transform(array_distinct(toks),
      t => size(filter(toks, x => x === t))))
    val bg = ngrams(text, 2)
    (round(topCount.cast("double") / n, 6),
      round(lit(1.0) - size(array_distinct(bg)).cast("double")
        / greatest(size(bg), lit(1)).cast("double"), 6))
  }

  /** Shannon entropy (nats) of the document's token distribution — a
    * repetition-robust quality signal. The per-token terms are folded in
    * sorted-distinct-token order, so the double summation order is fixed
    * and the result is partition- and engine-invariant. */
  def tokenEntropy(text: Column): Column = {
    val toks = split(text, " ")
    val n = size(toks).cast("double")
    val terms = transform(array_sort(array_distinct(toks)), t => {
      val p = size(filter(toks, x => x === t)).cast("double") / n
      p * log(p)
    })
    round(-aggregate(terms, lit(0.0), (a, b) => a + b), 6)
  }

  /** PII redaction: emails, 16-digit card numbers, and 555- phone stubs
    * replaced with typed placeholders. Pure regexp_replace chain —
    * codegen'd, no shuffle. The patterns are RE2/Java-portable (no
    * lookbehind) so the same grammar runs in any engine. */
  def piiRedact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "[EMAIL]"),
        "\\b[0-9]{16}\\b", "[CARD]"),
      "\\b555-[0-9]{4}\\b", "[PHONE]")

  /** Per-partition Misra–Gries heavy-hitter candidates over a token
    * column named `w`: each partition keeps at most `capacity` counters,
    * decrementing all when full. Any token with global count
    * > N/(capacity+1) is guaranteed to survive in at least one partition
    * (averaging argument), so filtering the EXACT counts of the candidate
    * union at a threshold above N/(capacity+1) is partition-invariant and
    * equals a plain GROUP BY ... HAVING — without shuffling the full token
    * stream: only |candidates| ≤ capacity × partitions rows move. */
  def heavyHitterCandidates(tokens: DataFrame, capacity: Int): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens.select(col("w")).as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { w =>
        if (m.contains(w)) m(w) += 1L
        else if (m.size < capacity) m(w) = 1L
        else {
          // decrement-all step: one global count and one count of each
          // tracked token are discarded together, preserving the bound
          m.toList.foreach { case (key, v) =>
            if (v == 1L) m.remove(key) else m(key) = v - 1L
          }
        }
      }
      m.keysIterator
    }.toDF("w")
  }

  /** Corpus-LM document scoring (perplexity proxy): unigram probabilities
    * from corpus-wide term frequencies, per-document mean negative
    * log-likelihood. The −ln p(w) values are quantized to DECIMAL(18,6)
    * before the per-document sum, so the aggregation is order-free and
    * bit-exact on any partitioning; the vocabulary table broadcasts (it is
    * orders of magnitude smaller than the corpus), so the token stream
    * never shuffles by term — the only exchange is the doc_id rollup. */
  def lmScore(docs: DataFrame, id: String, text: String): DataFrame = {
    val words = docs.select(col(id).as("doc_id"),
      explode(split(col(text), " ")).as("w"))
    val freq = words.groupBy(col("w")).agg(count(lit(1)).as("tf"))
    // total token count from a narrow per-row array size — same value as
    // count() over the exploded stream without materializing it again
    val total = docs.agg(
      sum(size(split(col(text), " ")).cast("long")).as("total"))
    val nll = freq.crossJoin(broadcast(total))
      .select(col("w"),
        round(-log(col("tf").cast("double") / col("total").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("nll"))
    // NULL-key rule (TextDedup object doc): keyless docs' tokens feed the
    // corpus frequencies above, but the per-doc rollup would merge them
    // into one chimera row — they surface unassessable instead (real
    // n_tokens, NULL score); NULL-text docs have no tokens and drop out
    val unassessable = docs.filter(col(id).isNull && col(text).isNotNull)
      .select(col(id).as("doc_id"), lit(null).cast("double").as("avg_nll"),
        size(split(col(text), " ")).cast("long").as("n_tokens"))
    words.filter(col("doc_id").isNotNull).join(broadcast(nll), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nll")).as("sum_nll"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"),
        round(col("sum_nll").cast("double") / col("n_tokens"), 6).as("avg_nll"),
        col("n_tokens"))
      .unionByName(unassessable)
  }

  /** Sliding-window document chunking (the context-window prep step:
    * every LLM ingest chops documents into fixed-token chunks with
    * overlap). Chunk i covers tokens [i·stride, i·stride + chunkTokens);
    * windows start while i·stride < n, so every token lands in ≥1 chunk
    * and consecutive chunks overlap by chunkTokens - stride tokens.
    * Pure array program — no explode until the caller asks for rows. */
  def chunks(text: Column, chunkTokens: Int, stride: Int): Column = {
    require(stride > 0 && chunkTokens >= stride, "need 0 < stride <= chunkTokens")
    val words = split(text, " ")
    val n = size(words)
    val nChunks = floor((n - 1) / stride) + 1
    transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(words, i * stride + 1, lit(chunkTokens)), " "))
  }
}
