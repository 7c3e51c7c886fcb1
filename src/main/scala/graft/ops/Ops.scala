package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational building blocks (SURVEY.md §2.4, §2.5, §2.10): the dedup
  * gates, watermark incremental reads, and dialect union the reference
  * implements with Python set lookups and try/except row fallbacks —
  * re-expressed as set-based Spark plans.
  *
  * Scale notes (100 TB): the "loaded keys" side of every dedup gate is a
  * DISTINCT projection of one key column — small relative to the fact
  * table — so we broadcast it explicitly and the anti/semi join stays
  * shuffle-free on the big side. If the key set ever outgrows the
  * broadcast threshold Spark falls back to a shuffled sort-merge
  * anti-join automatically when the hint is dropped; `antiJoinLarge`
  * exposes that path.
  */
object Ops {

  /** Deterministic 16-way hash bucket of an id — md5's first hex nibble.
    * The train/test split boundary (`hashBucket16 < 13` ⇒ ~81% train) is
    * a CONTRACT shared by split_train_test, split_leakage_safe and
    * pipeline_curation_e2e (and their oracles, which state the same
    * strpos-over-md5 expression): single-sourced here so the boundary
    * cannot silently diverge between queries. */
  def hashBucket16(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 1), 16, 10).cast("int")

  /** Parallel prefix sum: running total of `value` per `part` group in
    * `ord` order — WITHOUT the single-partition-per-group window
    * (`Window.partitionBy(part).orderBy(ord)` serializes each group onto
    * ONE task: with a handful of groups that is a handful of tasks at any
    * corpus size). Two-level scan instead:
    *
    *   1. chunk = floor(ord / span) — monotone in ord, so chunk order IS
    *      ord order and each chunk spans at most `span` distinct ord
    *      values (the per-task bound);
    *   2. per-(group, chunk) sums — partial-aggregated, skew-free;
    *   3. per-group running offsets over the COLLAPSED chunk frame (a
    *      window per group, but over ~n/span rows, not n);
    *   4. join offsets back on (group, chunk) + chunk-LOCAL cumsum:
    *      offset + local running total = the exact group cumsum.
    *
    * Parallelism is groups × live chunks end to end. `ord` must be
    * numeric and unique within its group (a doc/event id). NULL inputs
    * follow the family rule: a NULL group is one ordinary group (SQL
    * grouping semantics, matching what the plain window form would do),
    * while a NULL `ord` row has no position in the order — it surfaces
    * with a NULL cumsum and contributes to no running total. */
  def chunkedCumsum(df: DataFrame, part: String, ord: String, value: String,
                    cumName: String, span: Long = 1024L): DataFrame = {
    // public helper: internal column names must not collide with caller
    // columns (withColumn REPLACES same-name columns — a caller "_chunk"
    // would corrupt both its data and the cumsum), so pick the first
    // suffix that is fresh against the input schema AND the requested
    // cumName (a cumName of "_chunk" would otherwise be overwritten by
    // the internal column and then dropped), compared case-insensitively
    // because Spark's default resolver is case-insensitive
    val occupied = df.columns :+ cumName
    val suffix = Iterator.from(0).map(i => if (i == 0) "" else s"_$i")
      .find { t =>
        val internals =
          Seq(s"_chunk$t", s"_offset$t", s"_csum$t", s"_p_r$t", s"_c_r$t")
        !occupied.exists(c => internals.exists(_.equalsIgnoreCase(c)))
      }.get
    val (chunkC, offsetC, csumC, partR, chunkR) =
      (s"_chunk$suffix", s"_offset$suffix", s"_csum$suffix",
        s"_p_r$suffix", s"_c_r$suffix")
    // integral divide, not floor(x/span): double division loses exactness
    // past 2^53 and ids are BIGINT. Truncating division is monotone in
    // ord, which is the only property chunking needs.
    val withChunk = df.withColumn(chunkC, expr(s"$ord div $span"))
    // NULL-ord rows have no position in the order: they are excluded
    // from every chunk sum (their chunk is NULL) and surface with a NULL
    // cumsum via the left join below, rather than being dropped or
    // folded in at a nondeterministic position (NULLS-FIRST ties)
    val offsets = withChunk.filter(col(chunkC).isNotNull)
      .groupBy(col(part), col(chunkC))
      .agg(sum(col(value)).as(csumC))
      .withColumn(offsetC, coalesce(
        sum(col(csumC)).over(Window.partitionBy(col(part))
          .orderBy(col(chunkC)).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col(part).as(partR), col(chunkC).as(chunkR), col(offsetC))
    // no broadcast hint: offsets is ~n/span rows — small enough for AQE
    // to broadcast at any sane scale, shuffled (skew-free key) beyond.
    // Null-safe match on the GROUP key: groupBy and the windows treat a
    // NULL group as one ordinary group (SQL grouping semantics), so the
    // join-back must too — a plain equi-join here silently DROPPED every
    // NULL-group row from the output
    withChunk.join(offsets,
        col(part) <=> col(partR) && col(chunkC) === col(chunkR), "left")
      .withColumn(cumName, col(offsetC) + sum(col(value)).over(
        Window.partitionBy(col(part), col(chunkC)).orderBy(col(ord))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop(chunkC, offsetC, partR, chunkR)
  }

  /** Token-budget shard assignment for training-data export (K16's
    * engine): shard = global running token count div `budget`, computed
    * with [[chunkedCumsum]] so the corpus never serializes onto one task.
    * SELF-DEFENDING at scale via `maxShards`: a small budget against a
    * large corpus yields ceil(total/budget) shard directories, and the
    * per-shard-FILE commit cost (~ms each) comes to dominate the export
    * once shards reach the tens of thousands (measured: 13.5k one-file
    * shards cost 43–76 s at 100×, SCALE.md §4f). When the implied shard
    * count exceeds `maxShards`, the budget is widened to
    * ceil(total/maxShards) — shards stay CONTIGUOUS in `ord` and
    * token-bounded, there are just at most `maxShards` of them. The
    * total-token lookup is one column-pruned partial-aggregated scan and
    * a single driver scalar — metadata grain. */
  def tokenShards(docs: DataFrame, ord: String, tok: String,
                  budget: Long, maxShards: Int = Int.MaxValue,
                  shardName: String = "shard"): DataFrame = {
    require(budget > 0 && maxShards > 0, "budget and maxShards must be positive")
    // the total-token scan exists only to size the cap — skip the extra
    // job entirely when the default (uncapped) maxShards cannot bind
    val eff =
      if (maxShards == Int.MaxValue) budget
      else {
        // NULL-ord docs ship in no shard (chunkedCumsum's NULL rule), so
        // their tokens must not consume the capacity plan either
        val totalRow = docs.filter(col(ord).isNotNull).agg(sum(col(tok))).head()
        val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
        math.max(budget, (total + maxShards - 1) / maxShards)
      }
    // fresh internal names (chunkedCumsum's collision rule): withColumn
    // REPLACES same-name caller columns, silently corrupting them
    val occupied = docs.columns :+ shardName
    val suffix = Iterator.from(0).map(i => if (i == 0) "" else s"_$i")
      .find { t =>
        val internals = Seq(s"_shard_all$t", s"_shard_cum$t")
        !occupied.exists(c => internals.exists(_.equalsIgnoreCase(c)))
      }.get
    val (groupC, cumC) = (s"_shard_all$suffix", s"_shard_cum$suffix")
    chunkedCumsum(docs.withColumn(groupC, lit("x")), groupC, ord, tok, cumC)
      // integral div: exact past 2^53 (cum is a corpus-wide token count)
      .withColumn(shardName, expr(s"(`$cumC` - `$tok`) div $eff"))
      .drop(groupC, cumC)
  }

  /** J1/J2/J4 — anti-join dedup gate: keep rows of `incoming` whose key is
    * NOT already in `loaded` (Python set lookup at load_data:54-66,
    * 181-194 → BroadcastHashJoin LeftAnti). `loaded` is reduced to
    * DISTINCT keys first, exactly like `SELECT DISTINCT id FROM …`
    * (load_data:41-44, 168-171). */
  def antiJoin(incoming: DataFrame, loaded: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(broadcast(loaded.select(keys.map(col): _*).distinct()), keys, "left_anti")

  /** Same gate without the broadcast hint, for key sets too large to
    * broadcast: Spark plans a shuffled anti-join; AQE may still convert
    * it back to broadcast at runtime if the build side is small. */
  def antiJoinLarge(incoming: DataFrame, loaded: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(loaded.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** J4 dual — existence probe as a semi-join (`head_object` check,
    * extract_data_pdf:140-147). */
  def semiJoin(incoming: DataFrame, loaded: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(broadcast(loaded.select(keys.map(col): _*).distinct()), keys, "left_semi")

  /** A1/ST1 — incremental watermark: `MAX(dateCol)` over the loaded table,
    * applied as a pushdown filter on the new scan (extract_data_pdf:56-108).
    * Two-phase like the reference itself (watermark query first, then the
    * incremental fetch): the single-row aggregate is resolved eagerly and
    * the filter becomes a LITERAL comparison — the only formulation that
    * actually reaches the parquet reader as a PushedFilter (a cross-joined
    * scalar column never pushes; row-group/page skipping on the date column
    * is the entire point of incremental reads at 100 TB). Asserted by
    * PlanSpec. */
  def watermarkAfter(newData: DataFrame, dateCol: String, loaded: DataFrame,
                     loadedDate: Column, fallback: Column): DataFrame = {
    // ST2 — late fallback when the loaded side is empty
    // (extract_data_pdf:100-106, extract_data_bank_pay:129-135)
    val wm = loaded.agg(coalesce(max(loadedDate), fallback).as("__wm")).head().get(0)
    if (wm == null) newData.filter(lit(false))
    else newData.filter(col(dateCol) > lit(wm))
  }

  /** F5 + §2.7 — dialect union: rename the Spanish-header frame to the
    * English schema, then strict `unionByName` (fails loudly on drift,
    * unlike the reference's silent per-row try/except fallback,
    * load_data:118-159). */
  def dialectUnion(en: DataFrame, es: DataFrame, esToEn: Map[String, String]): DataFrame = {
    val renamed = esToEn.foldLeft(es) { case (df, (from, to)) =>
      if (df.columns.contains(from)) df.withColumnRenamed(from, to) else df
    }
    en.unionByName(renamed)
  }

  /** K8 — set-based upsert (the rollback UPDATE, compensation_flow:34-56,
    * done as a merge): rows of `updates` replace same-key rows of `base`,
    * other base rows pass through. Equivalent to MERGE WHEN MATCHED THEN
    * UPDATE; with partitioned tables this rewrites only the touched
    * partitions. Updates side is typically tiny → broadcast anti-join.
    *
    * NULL-key semantics are SQL MERGE's (Delta/Iceberg MERGE likewise):
    * the match condition is plain equality, and NULL = NULL is not TRUE —
    * so a NULL-keyed update never MATCHES a NULL-keyed base row; both are
    * retained (the update inserts, the base row passes the anti-join).
    * Pinned by WarehouseNullProps; callers needing NULL-keyed replacement
    * must canonicalize keys first (F8's null-canonical projection). */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    updates.unionByName(antiJoin(base, updates, keys))

  /** As-of join (point-in-time lookup): for every left row, attach the
    * right row with the greatest `rightTime <= leftTime` for the same
    * keys — the temporal-join primitive Spark SQL lacks (feature lookups,
    * latest-snapshot enrichment). Set-based, no custom physical node
    * needed: union both sides tagged, one window pass per key ordered by
    * (time, tag) propagates the latest right payload onto left rows via
    * `last(_, ignoreNulls)`. Cost = one shuffle on `keys` + a sort within
    * partitions — the same lower bound a dedicated merge-join
    * implementation would pay on unsorted input, and it inherits AQE/skew
    * handling for free. Right rows at exactly leftTime match (>=).
    *
    * NULL-time semantics are SQL's: `rightTime <= leftTime` is UNKNOWN
    * when either side is NULL, so NULL-time right rows match nothing
    * (dropped up front — before r13 they sorted NULLS-FIRST and acted as
    * "before everything", silently enriching every early left row) and
    * NULL-time left rows surface with a NULL payload. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String): DataFrame = {
    val payload = right.columns.filterNot(c => keys.contains(c) || c == rightTime).toSeq
    val leftCols = left.columns.toSeq
    val l2 = left.withColumn("__t", col(leftTime)).withColumn("__tag", lit(1))
    val lTagged = payload.foldLeft(l2)((df, c) => df.withColumn(c, lit(null)))
    // NULL-time left rows then need no guard: they sort NULLS FIRST, so
    // no surviving right row precedes them and the carry stays NULL.
    // NULL-KEY right rows are dropped too: the window partitions by the
    // keys with GROUPING semantics (null == null), so without the filter
    // a NULL-key right payload would enrich NULL-key left rows — but this
    // is a JOIN, and SQL equi-join semantics say a NULL key matches
    // nothing (DuckDB's ASOF JOIN agrees). NULL-key LEFT rows still come
    // through, payload NULL, like any unmatched left row.
    val r2 = right.filter(keys.map(col(_).isNotNull)
        .foldLeft(col(rightTime).isNotNull)(_ && _))
      .withColumnRenamed(rightTime, "__rt")
      .withColumn("__t", col("__rt")).withColumn("__tag", lit(0)).drop("__rt")
    val rTagged = leftCols.filterNot(keys.contains)
      .foldLeft(r2)((df, c) => df.withColumn(c, lit(null)))
    val unioned = lTagged.select((keys ++ Seq("__t", "__tag") ++
        leftCols.filterNot(keys.contains) ++ payload).map(col): _*)
      .unionByName(rTagged.select((keys ++ Seq("__t", "__tag") ++
        leftCols.filterNot(keys.contains) ++ payload).map(col): _*))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payload.foldLeft(unioned)((df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    carried.filter(col("__tag") === 1).drop("__t", "__tag")
      .select((leftCols ++ payload).map(col): _*)
  }

  /** Nearest-match as-of join: each left row takes the right row whose
    * time is CLOSEST in either direction (sensor alignment, quote
    * matching); ties prefer the backward (earlier-or-equal) match.
    * Same union-tag-carry shape as [[asofJoin]] — both directions ride
    * ONE key-hash exchange: the backward carry scans an
    * unboundedPreceding frame ordered (t, right-first) and the forward
    * carry an unboundedFollowing frame ordered (t, left-first), so the
    * only extra cost over backward-only is a second in-partition sort.
    * No per-row range probe, no self-join — linear at any key
    * cardinality. Appends the matched right time's distance as
    * `dt_ms` (NULL when the key has no right rows at all). Timestamp
    * axes compare distances at FULL microsecond resolution (Spark
    * timestamps carry µs; a millisecond compare could pick the farther
    * match on sub-ms gaps); `dt_ms` is then the µs distance floor-divided
    * by 1000. Non-timestamp axes compare and report raw axis units. */
  def asofNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
                  leftTime: String, rightTime: String): DataFrame = {
    val payload = right.columns.filterNot(c => keys.contains(c) || c == rightTime).toSeq
    val leftCols = left.columns.toSeq
    val lTagged = payload.foldLeft(
        left.withColumn("__t", col(leftTime)).withColumn("__tag", lit(1))
          .withColumn("__rt", lit(null).cast(left.schema(leftTime).dataType)))(
        (df, c) => df.withColumn(c, lit(null)))
    // NULL-time right rows can never be anyone's nearest match (every
    // distance against them is UNKNOWN) — drop them up front, same rule
    // as asofJoin's; NULL-KEY right rows likewise (the window's grouping
    // semantics would otherwise match them to NULL-key left rows, which
    // SQL join semantics forbid)
    val rTagged = leftCols.filterNot(keys.contains)
      .foldLeft(right.filter(keys.map(col(_).isNotNull)
          .foldLeft(col(rightTime).isNotNull)(_ && _))
        .withColumn("__t", col(rightTime)).withColumn("__tag", lit(0))
        .withColumn("__rt", col(rightTime)).drop(rightTime))(
        (df, c) => df.withColumn(c, lit(null)))
    val cols = keys ++ Seq("__t", "__tag", "__rt") ++
      leftCols.filterNot(keys.contains) ++ payload
    val unioned = lTagged.select(cols.map(col): _*)
      .unionByName(rTagged.select(cols.map(col): _*))
    val wB = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, col("__tag").desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // all backward carries first, then all forward carries: adjacent
    // same-spec windows collapse into ONE Window operator each, so the
    // chain pays exactly two in-partition sorts (interleaving B/F/B/F
    // would alternate sort orders per column)
    val withB = payload.foldLeft(
        unioned.withColumn("__bt", last(col("__rt"), ignoreNulls = true).over(wB)))(
        (df, c) => df.withColumn(s"__b_$c", last(col(c), ignoreNulls = true).over(wB)))
    val carried = payload.foldLeft(
        withB.withColumn("__ft", first(col("__rt"), ignoreNulls = true).over(wF)))(
        (df, c) => df.withColumn(s"__f_$c", first(col(c), ignoreNulls = true).over(wF)))
    // distance on the time axis: full-resolution epoch micros for
    // timestamps (ms truncation could pick the farther match when gaps
    // differ only below 1 ms), the raw numeric difference otherwise
    val isTs = left.schema(leftTime).dataType ==
      org.apache.spark.sql.types.TimestampType
    val axis: Column => Column = if (isTs) unix_micros _ else _.cast("long")
    val bDist = axis(col("__t")) - axis(col("__bt"))
    val fDist = axis(col("__ft")) - axis(col("__t"))
    val takeBack = col("__ft").isNull || (col("__bt").isNotNull && bDist <= fDist)
    // NULL-time LEFT rows still see following right rows through the
    // forward frame (NULLS FIRST puts them at the partition head) — but
    // their distance is UNKNOWN, so SQL semantics give them no match
    val chosen = payload.map(c =>
      when(col("__t").isNotNull,
        when(takeBack, col(s"__b_$c")).otherwise(col(s"__f_$c"))).as(c))
    val dist = when(col("__t").isNotNull,
      when(takeBack, bDist).otherwise(fDist))
    val dtMs = if (isTs) floor(dist / lit(1000L)).cast("long") else dist
    carried.filter(col("__tag") === 1)
      .select(leftCols.map(col) ++ chosen :+ dtMs.as("dt_ms"): _*)
  }

  /** Skew-salted inner equi-join: when a handful of hot keys would
    * overload single reducers in a shuffled join (and the small side is
    * too big to broadcast), explode the small side `saltFactor` ways and
    * scatter the big side's rows uniformly across the salts. AQE's skew
    * handling covers sort-merge joins automatically; this is the explicit
    * form for when the skew is known up front (e.g. a null-heavy or
    * power-law key at 100 TB). Result equals a plain inner join on `keys`. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 saltFactor: Int = 8): DataFrame = {
    val salts = explode(array((0 until saltFactor).map(lit): _*)).as("__salt")
    val smallExpanded = small.select(col("*"), salts)
    // deterministic uniform scatter: stable hash of the whole key tuple
    val bigSalted = big.withColumn("__salt",
      pmod(xxhash64(keys.map(col): _*), lit(saltFactor)).cast("int"))
    bigSalted.join(smallExpanded, keys :+ "__salt").drop("__salt")
  }

  /** Incremental maintenance of a keyed aggregate table
    * (count/sum/min/max): fold a new batch into the existing aggregate by
    * aggregating ONLY the batch and combining — history is never
    * rescanned. All four aggregates are decomposable (count/sum merge by
    * +, min/max by min/max), so the maintained table is exactly equal to
    * re-aggregating everything from scratch — the materialized-view
    * update that turns an O(history) nightly job into O(batch).
    * Aggregate schema: keys :+ (n, total, mn, mx); `total` is summed as
    * DECIMAL so maintenance order cannot perturb it. */
  def incrementalAgg(prev: Option[DataFrame], batch: DataFrame, keys: Seq[String],
                     valueCol: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(28, 2)
    val bAgg = batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col(valueCol).cast(D)).cast(D).as("total"),
        min(col(valueCol)).as("mn"), max(col(valueCol)).as("mx"))
    prev match {
      case None => bAgg
      case Some(p) =>
        p.unionByName(bAgg)
          .groupBy(keys.map(col): _*)
          .agg(sum(col("n")).cast("long").as("n"), sum(col("total")).cast(D).as("total"),
            min(col("mn")).as("mn"), max(col("mx")).as("mx"))
    }
  }

  /** Equal-key band join through the custom [[graft.plans.BandJoin]]
    * whole-operator: `l.key = r.key AND l.t − lo <= r.t <= l.t + hi`
    * (bounds in the time column's native long units — micros for
    * timestamps; one-sided windows set a bound to 0). One
    * co-partitioning exchange per side + in-partition sorts, then a
    * single sliding-window sweep — no quadratic per-key pair blowup, the
    * plan the equi-join+filter form degrades to on hot keys. */
  def bandJoin(left: DataFrame, right: DataFrame,
               leftKeys: Seq[String], rightKeys: Seq[String],
               leftTime: String, rightTime: String,
               lo: Long, hi: Long): DataFrame = {
    val spark = left.sparkSession
    graft.plans.GraftExtensions.install(spark)
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"no column $n in ${p.output.map(_.name).mkString(",")}"))
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      graft.plans.BandJoin(
        leftKeys.map(attr(lp, _)), rightKeys.map(attr(rp, _)),
        attr(lp, leftTime), attr(rp, rightTime), lo, hi, lp, rp))
  }

  /** Symmetric band: `|l.t − r.t| <= delta`. */
  def bandJoin(left: DataFrame, right: DataFrame,
               leftKeys: Seq[String], rightKeys: Seq[String],
               leftTime: String, rightTime: String, delta: Long): DataFrame =
    bandJoin(left, right, leftKeys, rightKeys, leftTime, rightTime, delta, delta)

  /** Insert-delta of an inner equi-join under batch arrivals on BOTH
    * sides — the incremental-view-maintenance delta rule:
    * Δ(A⋈B) = (ΔA ⋈ B_acc) ∪ (A_acc ⋈ ΔB) ∪ (ΔA ⋈ ΔB).
    * Feed the result to [[incrementalAgg]] to maintain a join-aggregate
    * view without ever rescanning (or re-joining) accumulated history —
    * at 100 TB the per-refresh cost tracks the ARRIVAL size, not the
    * table size. Inner-join/insert-only semantics; deletes need a
    * signed-multiplicity variant of the same three terms. */
  def joinDelta(accA: DataFrame, dA: DataFrame, accB: DataFrame, dB: DataFrame,
                keys: Seq[String]): DataFrame =
    dA.join(accB, keys)
      .unionByName(accA.join(dB, keys))
      .unionByName(dA.join(dB, keys))

  /** ST3 (batch form) — keep exactly one row per key, deterministically:
    * the row with the minimal tiebreaker. groupBy+min_by rather than
    * dropDuplicates so results are stable for the oracle; the streaming
    * form lives in graft.streaming. */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], tiebreak: String): DataFrame = {
    val others = df.columns.filterNot(c => keys.contains(c) || c == tiebreak)
    df.groupBy(keys.map(col): _*)
      .agg(min(col(tiebreak)).as(tiebreak),
        others.toIndexedSeq.map(c => min_by(col(c), col(tiebreak)).as(c)): _*)
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** Per-key top-k through the custom [[graft.plans.TopKPerKey]] operator:
    * one Exchange + a bounded heap per key instead of the window form's
    * Exchange + full partition Sort — the plan you want when k ≪ rows per
    * key at scale. `sortCols` are (column, descending?) pairs evaluated in
    * order; include a unique final column for deterministic ties, exactly
    * as the window form would need. */
  def topKPerKey(df: DataFrame, keys: Seq[String], sortCols: Seq[(String, Boolean)],
                 k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    val spark = df.sparkSession
    graft.plans.GraftExtensions.install(spark)
    val lp = df.queryExecution.analyzed
    def attr(n: String) = lp.output.filter(_.name == n) match {
      case Seq(a) => a
      case Seq() => throw new IllegalArgumentException(
        s"no column $n in ${df.columns.mkString(",")}")
      case many => throw new IllegalArgumentException(
        s"ambiguous column $n: ${many.size} attributes match (dedup or alias before topKPerKey)")
    }
    val order = sortCols.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      graft.plans.TopKPerKey(keys.map(attr), order, k, lp))
  }

  /** Morton (z-order) interleave of the low `bits` bits of two
    * non-negative integer columns: bit i of x lands at position 2i, bit
    * i of y at 2i+1. A static sum of shift/mask terms — whole-stage
    * codegen'd, exact integer arithmetic, no UDF. Sorting or
    * range-partitioning by the result clusters rows so that contiguous
    * z-ranges are tight axis-aligned boxes in BOTH dimensions — the key
    * property behind multi-dimensional min/max file skipping. */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }
}
