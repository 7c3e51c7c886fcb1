package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Warehouse layout conventions (SURVEY.md §7.1 item 6).
  *
  * The reference's warehouse is three Redshift tables loaded row-by-row;
  * ours is columnar parquet with layout chosen for the read patterns:
  *
  *  - **Partitioned** by a low-cardinality pruning column (e.g. load date)
  *    so incremental readers (A1/ST1) touch only new partitions —
  *    Catalyst turns the watermark filter into partition pruning.
  *  - **Bucketed** by the join/dedup key so the J1/J2 anti-join gates and
  *    the A2 group-join co-locate without shuffling either side: two
  *    tables bucketed the same way join shuffle-free at any scale.
  *
  * JDBC variants are the same calls with `.format("jdbc")`; the bulk
  * columnar write replaces the reference's per-row INSERT ceiling
  * (load_data:32-36, BASELINE.md). */
object Warehouse {

  /** A partition column read back from a table whose EVERY row sits in
    * the NULL partition comes back typed VOID — partition discovery has
    * only `__HIVE_DEFAULT_PARTITION__` directory values to infer from —
    * and writing a VOID partition column is an AnalysisException
    * (INVALID_PARTITION_COLUMN_DATA_TYPE). So any read-modify-write
    * cycle (deleteWhere's survivor rewrite) broke on exactly the table
    * states the NULL-partition discipline exists for (found by
    * WarehouseNullProps drawing an all-NULL-partition table — the
    * "full-suite flake" of VERDICT r14 #3 was this, input-dependent, not
    * environmental). NULL carries no type: cast such columns to STRING —
    * the directory name is `__HIVE_DEFAULT_PARTITION__` either way, and
    * a later mixed-value write re-establishes the real type from data. */
  private def writablePartitions(df: DataFrame, partitionCols: Seq[String]): DataFrame =
    partitionCols.foldLeft(df) { (d, c) =>
      if (d.schema(c).dataType == org.apache.spark.sql.types.NullType)
        d.withColumn(c, col(c).cast("string"))
      else d
    }

  /** Append a batch under hive-style partition dirs (raw/processed
    * lifecycle becomes partition values, not prefix renames). */
  def appendPartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    writablePartitions(df, partitionCols)
      .write.mode(SaveMode.Append).partitionBy(partitionCols: _*).parquet(path)

  /** Dynamic partition overwrite: replace ONLY the partitions `df`
    * actually contains, leaving every other partition untouched — the
    * idempotent-backfill primitive (re-run a day's load without wiping
    * the table; static overwrite mode would). Partition values route
    * files at write time, so a backfill touches exactly the directories
    * it owns regardless of table size. */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    writablePartitions(df, partitionCols)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Targeted (GDPR-style right-to-be-forgotten) delete from a
    * partitioned parquet warehouse: rewrite ONLY the partitions that
    * contain matching rows, leave every other partition's files
    * untouched.
    *
    * Three steps, each scale-shaped: (1) discover affected partitions
    * with a column-pruned scan (only `partitionCol` + the predicate's
    * columns are read); (2) re-read JUST those partitions (partition
    * filter ⇒ pruned at the listing) minus the matching rows and
    * dynamic-overwrite them; (3) partitions whose rows were ALL deleted
    * produce no rows in the rewrite — dynamic overwrite would leave
    * their stale files, so they are dropped explicitly. At any table
    * size the rewrite cost tracks the affected partitions, never the
    * table. Returns (n partitions in table, n partitions rewritten or
    * dropped).
    *
    * Failure semantics: this is a two-phase operation without a
    * transaction log (dynamic overwrite of surviving partitions, then
    * explicit drop of fully-emptied ones); a crash between the phases
    * can leave an emptied partition's stale files readable. The
    * operation is IDEMPOTENT — re-run it to completion after any
    * failure — and it verifies its own post-condition before returning:
    * a residual scan over the affected partitions must match zero rows,
    * otherwise it throws instead of reporting a partial erasure as
    * success (the GDPR contract is "gone", not "mostly gone"). */
  def deleteWhere(spark: SparkSession, path: String, partitionCol: String,
                  pred: Column): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, lit, max, when}
    // A table dir that EXISTS but holds no data files has nothing to
    // delete — and read() on it cannot infer a schema, so without this
    // guard an empty table turns a no-op erasure into
    // UNABLE_TO_INFER_SCHEMA (WarehouseNullProps' shrunk counterexample).
    // A NONEXISTENT path still throws (below, via read): for a
    // right-to-be-forgotten call, success-on-typo'd-path would record the
    // erasure as done while the real table's rows survive elsewhere.
    if (pathExists(spark, path) && !hasDataFiles(spark, path)) return (0L, 0L)
    val all = read(spark, path)
    // ONE column-pruned discovery pass yields both the table's partition
    // count and the affected set (a second distinct scan would double
    // the discovery I/O that dominates this operation's cost)
    val parts = all.groupBy(col(partitionCol))
      .agg(max(when(pred, 1).otherwise(0)).as("hit"))
      .collect().map(r => r.get(0) -> (r.getInt(1) == 1))
    val affected = parts.collect { case (v, true) => v }.toSeq
    // null-aware partition membership: isin(null) yields NULL (never
    // true), so a NULL partition in the set would silently drop out of
    // any plain isin filter — here at the prune that would EXCLUDE the
    // null partition's surviving rows from the rewrite and the partition
    // directory would be dropped wholesale (data loss), and at the
    // post-condition it would skip the residual check
    def inPartitionSet(vals: Seq[Any]): Column = {
      val nonNull = vals.filter(_ != null)
      val base = if (nonNull.nonEmpty) col(partitionCol).isin(nonNull: _*)
                 else lit(false)
      if (vals.exists(_ == null)) base || col(partitionCol).isNull else base
    }
    if (affected.nonEmpty) {
      val pruned = all.filter(inPartitionSet(affected))
      // NULL-predicate rows did NOT match the delete request and must
      // survive: filter(!pred) alone drops them (NULL is not true), so
      // the erasure would over-delete — keep rows where pred is not TRUE
      val keep = pruned.filter(!coalesce(pred, lit(false)))
      val keptParts = keep.select(col(partitionCol)).distinct()
        .collect().map(_.get(0)).toSet
      overwritePartitions(keep, path, Seq(partitionCol))
      // fully-emptied partitions: no rows reached the dynamic overwrite,
      // so their directories still hold the deleted rows — drop them
      // through the Hadoop FS (works on HDFS/object stores, and uses
      // Spark's own partition-path escaping so values containing '/',
      // ':' or NULL resolve to the directory Spark actually wrote)
      affected.filterNot(keptParts).foreach { v =>
        val dirName = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(partitionCol,
            if (v == null) null else v.toString)
        deleteRecursively(spark, s"$path/$dirName")
      }
      // post-condition: no matching row survives in any REWRITTEN
      // partition (cost = re-scan of those partitions only; dropped
      // directories are verified by the delete call itself, and an
      // all-dropped table has no parquet left to re-read). Catching a
      // torn run here beats the caller discovering it in an audit — the
      // re-run instruction is in the scaladoc.
      val rewritten = affected.filter(keptParts)
      if (rewritten.nonEmpty) {
        val residual = read(spark, path)
          .filter(inPartitionSet(rewritten))
          .filter(coalesce(pred, lit(false))).limit(1).count()
        require(residual == 0L,
          s"deleteWhere post-condition failed: matching rows remain under " +
            s"$path — re-run the delete to completion")
      }
    }
    (parts.length.toLong, affected.size.toLong)
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** True when `path` holds at least one data file the reader would SEE
    * (recursive, through the Hadoop FS so it answers correctly on remote
    * stores too). Matches Spark's own listing filter: a file is hidden if
    * ITS name — or any ancestor directory's name below the table root —
    * starts with '_' or '.', so a crash-leftover
    * `_temporary/0/…/part-*.parquet` does NOT count as data (the reader
    * ignores it, and counting it would resurrect the
    * UNABLE_TO_INFER_SCHEMA failure this guard exists to prevent). */
  private def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return false
    val rootUri = fs.makeQualified(p).toUri
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next().getPath
      // components of the path RELATIVE to the table root, file included
      val rel = rootUri.relativize(fs.makeQualified(f).toUri).getPath
      val visible = rel.split('/')
        .forall(c => !c.startsWith("_") && !c.startsWith("."))
      if (visible) return true
    }
    false
  }

  /** Recursive delete through the Hadoop FileSystem API — correct on
    * local disk AND remote stores (a java.io.File delete on an
    * hdfs://… path silently no-ops). Shared by the delete/lifecycle
    * helpers and the sink queries' staging resets. */
  def deleteRecursively(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Create-or-append a bucketed warehouse table (bucketing requires the
    * session catalog, i.e. saveAsTable). Readers joining on `bucketCol`
    * with matching bucketing skip the shuffle entirely. */
  def appendBucketed(df: DataFrame, table: String, bucketCol: String,
                     numBuckets: Int, location: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Append)
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .format("parquet")
    location.fold(w.saveAsTable(table))(loc =>
      w.option("path", loc).saveAsTable(table))
  }

  /** Range-clustered write: repartitionByRange + sortWithinPartitions on
    * the clustering column gives each output file a disjoint value range,
    * so parquet row-group/file min-max statistics turn point/range
    * predicates into data skipping even without hive partitions — the
    * right layout for high-cardinality columns (timestamps, ids) where
    * partitionBy would explode the directory count. */
  def appendClustered(df: DataFrame, path: String, clusterCol: String,
                      numFiles: Int): Unit =
    df.repartitionByRange(numFiles, org.apache.spark.sql.functions.col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode(SaveMode.Append).parquet(path)

  /** Z-order (Morton) clustered write: quantize two numeric key columns
    * to 10-bit ranks over their [min,max] span, interleave the bits, and
    * range-partition rows by the z-value — every output file then covers
    * a compact rectangle of the 2-D key space, so parquet min/max footer
    * stats prune candidate files for predicates on EITHER or BOTH keys.
    * [[appendClustered]] skips on one column only; this is the layout
    * Delta/Iceberg expose as OPTIMIZE ZORDER, built from one bounds
    * aggregate + one range exchange. Linear quantization is deliberate:
    * rank-based (ntile) quantization resists skew better but needs a
    * global sort per key column; for skewed keys pre-transform (log,
    * bucketized rank) before calling. */
  def appendZOrdered(df: DataFrame, path: String, keyA: String, keyB: String,
                     numFiles: Int): Unit = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val b = df.agg(
      min(col(keyA)).cast("double"), max(col(keyA)).cast("double"),
      min(col(keyB)).cast("double"), max(col(keyB)).cast("double"),
      count(lit(1))).head()
    if (b.getLong(4) == 0L) return // empty input: nothing to write
    // rows exist but a key is all-NULL: there is no [min,max] span to
    // quantize — fail loudly rather than silently dropping the rows
    require(!b.isNullAt(0) && !b.isNullAt(2),
      s"appendZOrdered: z-order key ${if (b.isNullAt(0)) keyA else keyB} " +
        "is entirely NULL; use appendClustered or a plain append")
    // clamp both ends: a non-deterministic df re-evaluated for the write
    // could otherwise produce values outside the recorded [min,max]
    def rank(c: Column, lo: Double, hi: Double): Column =
      greatest(lit(0L), least(lit(1023L), floor(
        (c.cast("double") - lit(lo)) / lit(math.max(hi - lo, 1e-12)) * 1024).cast("long")))
    val ra = rank(col(keyA), b.getDouble(0), b.getDouble(1))
    val rb = rank(col(keyB), b.getDouble(2), b.getDouble(3))
    val z = (0 until 10).map { i =>
      shiftleft(shiftright(ra, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(rb, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Append).parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** Small-files compaction: rewrite a directory into ~`targetFiles`
    * right-sized files. Micro-batch appends (streaming sinks, incremental
    * loads) accrete thousands of small files whose per-file open/footer
    * cost eventually dominates scans; periodic compaction is the
    * counterpart every append-only warehouse needs. Rewrite goes through
    * a staging dir + rename so a concurrent reader sees either the old or
    * the new file set, never a mix. Renames ride the Hadoop FileSystem
    * API (r13: the java.io.File version silently no-opped on any
    * non-local path) — directory rename is atomic on HDFS; object stores
    * have no atomic rename, so there use the manifest-committed
    * AtomicSink layout instead of path swapping. */
  def compact(spark: SparkSession, path: String, targetFiles: Int): Unit = {
    val staged = path + "__compacting"
    val dir = new org.apache.hadoop.fs.Path(path)
    val bak = new org.apache.hadoop.fs.Path(path + "__precompact")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // Torn-swap recovery FIRST: a crash between rename(dir->bak) and
    // rename(staged->dir) leaves the table's ONLY copy at bak — the old
    // code then failed the initial read (dir missing) and left the table
    // offline until manual repair. Restore before reading; bak is only
    // garbage when dir exists (a completed prior swap's leftover).
    if (!fs.exists(dir) && fs.exists(bak))
      require(fs.rename(bak, dir), s"compact: recovery rename $bak -> $dir failed")
    spark.read.parquet(path).repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(staged)
    if (fs.exists(bak)) fs.delete(bak, true) // completed prior swap's leftover
    // Hadoop FileSystem.rename reports failure by RETURNING FALSE, not by
    // throwing — an unchecked rename(staged→dir) after a successful
    // rename(dir→bak) followed by an unconditional delete(bak) would
    // destroy the only remaining copy of the table. Check both, and only
    // drop the backup once the destination verifiably exists.
    if (fs.exists(dir))
      require(fs.rename(dir, bak), s"compact: rename $dir -> $bak failed")
    require(fs.rename(new org.apache.hadoop.fs.Path(staged), dir),
      s"compact: rename $staged -> $dir failed (previous data preserved at $bak)")
    if (fs.exists(dir) && fs.exists(bak)) { fs.delete(bak, true); () }
  }
}
