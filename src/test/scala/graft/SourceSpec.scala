package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DataSource V2 connector contract (graft.sources.LedgerSource): scan
  * correctness, filter pushdown with partition pruning, residual filter
  * handling, and column pruning. */
class SourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ledger(rows: Int = 5000, slices: Int = 8) =
    spark.read.format("graft-ledger")
      .option("rows", rows).option("slices", slices).load()

  test("full scan generates the deterministic ledger across all slices") {
    val df = ledger()
    assert(df.count() == 5000)
    assert(df.rdd.getNumPartitions == 8, "each slice is one input partition")
    val r = df.filter($"id" === 4999L).head()
    assert(r.getInt(1) == 9)
    assert(r.getDouble(2) == ((4999L * 2654435761L) % 100000L) / 100.0)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "the scan must take the vectorized path")
  }

  test("id range pushdown prunes non-overlapping partitions before launch") {
    val narrow = ledger().filter($"id" >= 1000L && $"id" < 1250L)
    assert(narrow.count() == 250)
    assert(narrow.rdd.getNumPartitions == 1,
      "only one 625-row slice overlaps [1000,1250)")
    val point = ledger().filter($"id" === 42L)
    assert(point.count() == 1 && point.rdd.getNumPartitions == 1)
  }

  test("complete aggregate pushdown: count/min/max answered from range arithmetic") {
    val df = ledger().filter($"id" >= 1000L && $"id" < 3000L)
      .agg(count(lit(1)).as("n"), min($"id").as("lo"), max($"id").as("hi"))
    val r = df.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2000L, 1000L, 2999L)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AGG[count,min_id,max_id] range=[1000,3000)"),
      s"aggregate must be absorbed by the narrowed scan:\n$plan")
    // an unsupported aggregate (sum over amount) is declined: Spark aggregates
    val sum = ledger().agg(org.apache.spark.sql.functions.sum($"amount")).head().getDouble(0)
    assert(sum > 0)
  }

  test("micro-batch stream drains the ledger in rowsPerBatch admissions under AvailableNow") {
    val q = spark.readStream.format("graft-ledger")
      .option("rows", 100).option("slices", 4).option("rowsPerBatch", 30).load()
      .writeStream.format("memory").queryName("ledger_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        TestSpark.tempDir("graft_ledger_ck").toString)
      .start()
    q.awaitTermination(60000)
    val got = spark.table("ledger_stream")
    assert(got.count() == 100)
    assert(got.select("id").distinct().count() == 100)
    val batches = got.groupBy().agg(max($"id")).head() // sanity touch
    assert(batches != null)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      "100 rows at 30/batch must take at least 4 non-empty batches")
  }

  test("atomic sink: commit publishes exactly the task files plus a manifest") {
    val loc = TestSpark.tempDir("graft_atomic").toString + "/t"
    val df = graft.schemas.Tables.orders(spark, TestSpark.sf0001)
      .select($"o_orderkey", $"o_orderpriority").repartition(4)
    df.write.format("graft-atomic").option("path", loc).mode("append").save()
    val files = new java.io.File(loc).listFiles().map(_.getName).toSet
    val manifest = java.nio.file.Files
      .readString(java.nio.file.Paths.get(loc, "_MANIFEST")).split("\n").toSeq
    assert(manifest.length == 4, "one committed file per task")
    assert(manifest.forall(files.contains), "manifest lists only published files")
    assert(!files.exists(_.startsWith("_staging")), "staging must be gone after commit")
    val lines = manifest.map(f =>
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(loc, f)).size).sum
    assert(lines == df.count(), "every row lands exactly once")
  }

  test("atomic sink: second append merges into the manifest; overwrite truncates") {
    val loc = TestSpark.tempDir("graft_atomic").toString + "/t"
    val df = graft.schemas.Tables.region(spark, TestSpark.sf0001)
      .select($"r_regionkey", $"r_name").repartition(2)
    def manifest() = java.nio.file.Files
      .readString(java.nio.file.Paths.get(loc, "_MANIFEST")).split("\n").toSeq
    df.write.format("graft-atomic").option("path", loc).mode("append").save()
    val first = manifest()
    df.write.format("graft-atomic").option("path", loc).mode("append").save()
    val second = manifest()
    assert(second.length == 4, "append must keep the first job's commit record")
    assert(first.forall(second.contains), "prior files survive in the manifest")
    df.repartition(3).write.format("graft-atomic").option("path", loc)
      .mode("overwrite").save()
    val third = manifest()
    assert(third.length == 3, "overwrite manifest names only the new files")
    assert(third.intersect(second).isEmpty)
    val files = new java.io.File(loc).listFiles().map(_.getName).toSet
    assert(second.forall(files.contains),
      "orphaned prior files stay on disk for in-flight readers until vacuum")
    // retained version snapshots pin the orphans; expire them first
    graft.sources.AtomicSink.expireVersions(loc, keepLast = 1)
    val removed = graft.sources.AtomicSink.vacuum(loc)
    assert(removed == second.length, "vacuum removes exactly the orphans")
    val after = new java.io.File(loc).listFiles().map(_.getName).toSet
    assert(second.forall(f => !after.contains(f)), "orphans gone after vacuum")
    assert(third.forall(after.contains), "vacuum never touches live files")
    val lines = third.map(f =>
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(loc, f)).size).sum
    assert(lines == df.count(), "table contents equal exactly the last write")
  }

  test("atomic sink read path: only manifest-listed files are visible") {
    val loc = TestSpark.tempDir("graft_atomic").toString + "/t"
    val df = graft.schemas.Tables.orders(spark, TestSpark.sf0001)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    df.repartition(4).write.format("graft-atomic").option("path", loc)
      .mode("append").save()
    val schema = df.schema
    def readBack() = spark.read.schema(schema).format("graft-atomic").load(loc)
    // round-trip: every row, exactly once, values intact
    assert(readBack().count() == df.count())
    assert(readBack().agg(sum($"o_orderkey")).head().getLong(0) ==
      df.agg(sum($"o_orderkey")).head().getLong(0))
    assert(readBack().agg(sum($"o_totalprice".cast("decimal(18,2)"))).head().getDecimal(0) ==
      df.agg(sum($"o_totalprice".cast("decimal(18,2)"))).head().getDecimal(0))
    // overwrite with half the rows: orphans stay on disk until vacuum but
    // a reader sees ONLY the new committed snapshot, never a file mix
    val half = df.filter($"o_orderkey" % 2 === 0)
    half.repartition(3).write.format("graft-atomic").option("path", loc)
      .mode("overwrite").save()
    val files = new java.io.File(loc).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_"))
    assert(files == 7, "pre-vacuum: 4 orphans + 3 live files on disk")
    assert(readBack().count() == half.count(),
      "reader must see exactly the committed snapshot")
    graft.sources.AtomicSink.vacuum(loc)
    assert(readBack().count() == half.count(), "vacuum changes nothing for readers")
    // null round-trip: a null column survives write -> read
    val withNull = df.limit(10).withColumn("o_orderpriority",
      org.apache.spark.sql.functions.lit(null).cast("string"))
    val loc2 = TestSpark.tempDir("graft_atomic").toString + "/t"
    withNull.write.format("graft-atomic").option("path", loc2).mode("append").save()
    val back = spark.read.schema(schema).format("graft-atomic").load(loc2)
    assert(back.filter($"o_orderpriority".isNull).count() == 10)
  }

  test("atomic sink time travel: versioned snapshots readable until expired") {
    import graft.sources.AtomicSink
    val loc = TestSpark.tempDir("graft_atomic").toString + "/t"
    val df = graft.schemas.Tables.nation(spark, TestSpark.sf0001)
      .select($"n_nationkey", $"n_name")
    val schema = df.schema
    def readV(v: Option[Long]) = {
      val r = spark.read.schema(schema).format("graft-atomic")
      v.fold(r)(n => r.option("version", n.toString)).load(loc)
    }
    df.filter($"n_nationkey" < 10).write.format("graft-atomic")
      .option("path", loc).mode("append").save()                      // v1: 10 rows
    df.filter($"n_nationkey" >= 10).write.format("graft-atomic")
      .option("path", loc).mode("append").save()                      // v2: 25 rows
    df.filter($"n_nationkey" < 5).write.format("graft-atomic")
      .option("path", loc).mode("overwrite").save()                   // v3: 5 rows
    assert(AtomicSink.versions(loc) == Seq(1L, 2L, 3L))
    assert(readV(None).count() == 5)
    assert(readV(Some(1L)).count() == 10)
    assert(readV(Some(2L)).count() == 25)
    // vacuum respects retained versions: v1/v2 files stay readable
    assert(AtomicSink.vacuum(loc) == 0)
    assert(readV(Some(2L)).count() == 25)
    // expiring old versions releases their exclusive files to vacuum
    assert(AtomicSink.expireVersions(loc, keepLast = 1) == Seq(1L, 2L))
    assert(AtomicSink.vacuum(loc) > 0)
    assert(readV(None).count() == 5, "current state untouched by vacuum")
    val err = intercept[Exception] { readV(Some(2L)).count() }
    assert(err.getMessage.contains("expired"), "expired version must fail loudly")
  }

  test("atomic sink commit lock: stale locks break, held locks make commits wait") {
    val loc = TestSpark.tempDir("graft_atomic").toString + "/t"
    val df = graft.schemas.Tables.region(spark, TestSpark.sf0001)
      .select($"r_regionkey", $"r_name").repartition(2)
    new java.io.File(loc).mkdirs()
    val lock = new java.io.File(loc, "_COMMIT_LOCK")
    // stale lock (crashed holder): age > 60s — the committer must break
    // it and proceed
    assert(lock.createNewFile())
    assert(lock.setLastModified(System.currentTimeMillis() - 120000))
    df.write.format("graft-atomic").option("path", loc).mode("append").save()
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(loc, "_MANIFEST")),
      "commit must break the stale lock and publish")
    assert(!lock.exists(), "lock released after commit")
    // fresh lock (live holder): the committer spins until release
    assert(lock.createNewFile())
    @volatile var done = false
    val t = new Thread(() => {
      df.write.format("graft-atomic").option("path", loc).mode("append").save()
      done = true
    })
    t.start()
    Thread.sleep(1500)
    assert(!done, "commit must wait while a fresh lock is held")
    assert(lock.delete())
    t.join(30000)
    assert(done, "commit must complete once the lock is released")
  }

  test("atomic sink commit lock: breaking is incarnation-checked — a handover to a NEW holder survives") {
    // the r13 break rule deleted any lock older than 60s; if the stale
    // holder's lock was broken by ANOTHER waiter and a NEW holder
    // acquired in between, this waiter's queued delete would destroy the
    // new holder's lock. Now a waiter only breaks the exact incarnation
    // (token + aged mtime) it observed twice — simulate the handover by
    // swapping the lock content to a fresh incarnation mid-wait and
    // verify the committer keeps waiting instead of breaking through.
    val loc = TestSpark.tempDir("graft_atomic").toString + "/t"
    val df = graft.schemas.Tables.region(spark, TestSpark.sf0001)
      .select($"r_regionkey", $"r_name").repartition(2)
    new java.io.File(loc).mkdirs()
    val lock = new java.io.File(loc, "_COMMIT_LOCK")
    assert(lock.createNewFile())
    java.nio.file.Files.writeString(lock.toPath, "incarnation-A")
    assert(lock.setLastModified(System.currentTimeMillis() - 120000))
    @volatile var done = false
    val t = new Thread(() => {
      df.write.format("graft-atomic").option("path", loc).mode("append").save()
      done = true
    })
    t.start()
    // before the waiter's second aged observation can land, a "new
    // holder" replaces the lock: fresh token, fresh mtime
    java.nio.file.Files.writeString(lock.toPath, "incarnation-B")
    assert(lock.setLastModified(System.currentTimeMillis()))
    Thread.sleep(1500)
    assert(!done, "a fresh incarnation must not be broken by a waiter that aged the old one")
    assert(lock.delete())
    t.join(30000)
    assert(done, "commit completes once the fresh holder releases")
  }

  test("atomic sink: a failed job publishes nothing (abort cleans staging)") {
    val loc = TestSpark.tempDir("graft_atomic").toString + "/t"
    val boom = udf((k: Long) =>
      if (k % 500 == 499) throw new RuntimeException("boom") else k)
    intercept[Exception] {
      graft.schemas.Tables.orders(spark, TestSpark.sf0001)
        .select(boom($"o_orderkey").as("k"), $"o_orderpriority").repartition(4)
        .write.format("graft-atomic").option("path", loc).mode("append").save()
    }
    val dir = new java.io.File(loc)
    assert(!new java.io.File(loc, "_MANIFEST").exists(), "no commit record")
    val leftover = Option(dir.listFiles()).getOrElse(Array.empty).map(_.getName)
    assert(leftover.isEmpty,
      s"nothing may be visible after abort, found: ${leftover.mkString(",")}")
  }

  test("residual filters stay with Spark; column pruning reaches the reader") {
    val df = ledger().filter($"bucket" === 3).select($"amount")
    assert(df.count() == 500) // id % 10 == 3 over [0, 5000)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=bucket,amount") || plan.contains("cols=amount,bucket"),
      s"reader must materialize only the needed columns:\n$plan")
    assert(!plan.contains("cols=id,"), "id must be pruned from the reader")
  }

  test("AvroIo roundtrips all bridged types with nulls, one container per partition") {
    import graft.sources.AvroIo
    val dir = TestSpark.tempDir("graft_avro_t").toString + "/t"
    val df = Seq(
      (1L, 1, 1.5, "a", true),
      (2L, 2, 2.5, "b", false),
      (3L, 3, 3.5, "c", true),
      (4L, 4, 4.5, "d", false)
    ).toDF("l", "i", "d", "s", "b")
      .select($"l", $"i", $"d",
        when($"l" % 2 === 0, $"s").as("s"),      // null string on odd rows
        when($"l" > 2, $"b").as("b"))            // null boolean on low rows
      .repartition(3)
    val nFiles = AvroIo.write(df, dir)
    assert(nFiles == 3 &&
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".avro")) == 3)
    val back = AvroIo.read(spark, dir, df.schema)
      .as[(Long, Int, Double, Option[String], Option[Boolean])].collect().sortBy(_._1)
    assert(back.toSeq == Seq(
      (1L, 1, 1.5, None, None), (2L, 2, 2.5, Some("b"), None),
      (3L, 3, 3.5, None, Some(true)), (4L, 4, 4.5, Some("d"), Some(false))))
    // overwrite semantics: a second smaller write replaces, never accretes
    val n2 = AvroIo.write(df.filter($"l" === 1L).coalesce(1), dir)
    assert(n2 == 1 && AvroIo.read(spark, dir, df.schema).count() == 1)
    // empty partitions write no file
    val n3 = AvroIo.write(df.filter($"l" < 0L).repartition(4), dir)
    assert(n3 == 0 && AvroIo.read(spark, dir, df.schema).count() == 0)
    // the type bridge refuses what it can't faithfully carry
    intercept[IllegalArgumentException] {
      AvroIo.avroSchema(Seq((Array(1.0f), 1L)).toDF("emb", "x").schema)
    }
  }

  test("AvroIo staged commit: a failing write leaves the previous table intact") {
    import graft.sources.AvroIo
    val dir = TestSpark.tempDir("graft_avro_c").toString + "/t"
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    assert(AvroIo.write(v1, dir) >= 1)
    // poisoned v2: one partition throws mid-write — the job fails, and
    // the staged-commit contract (AvroIo.scala:59-63) says the
    // destination must still serve v1, not a hole or a partial v2
    val poisoned = Seq((10L, "x"), (11L, "boom"), (12L, "z")).toDF("k", "v")
      .repartition(3)
      .as[(Long, String)]
      .map { case (k, v) =>
        if (v == "boom") throw new RuntimeException("poisoned partition")
        (k, v)
      }
      .toDF("k", "v")
    intercept[org.apache.spark.SparkException] { AvroIo.write(poisoned, dir) }
    val served = AvroIo.read(spark, dir, v1.schema)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(served == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "failed write must not disturb the committed table")
    // and a subsequent good write still swaps cleanly over the leftover staging
    assert(AvroIo.write(Seq((9L, "ok")).toDF("k", "v").coalesce(1), dir) == 1)
    assert(AvroIo.read(spark, dir, v1.schema).count() == 1)
  }

  test("AvroIo torn swap (table only at __old) is restored by the next call") {
    import graft.sources.AvroIo
    val dir = TestSpark.tempDir("graft_avro_t").toString + "/t"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    assert(AvroIo.write(v1, dir) >= 1)
    // simulate a crash between rename(base->bak) and rename(staging->base)
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(base, new org.apache.hadoop.fs.Path(dir + "__old")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + "__staging"))
    // next write restores the old table first (so a failure of THIS write
    // still leaves v1 served), then swaps in the new data
    assert(AvroIo.write(Seq((9L, "ok")).toDF("k", "v").coalesce(1), dir) == 1)
    assert(AvroIo.read(spark, dir, v1.schema).as[(Long, String)].collect().toSeq == Seq((9L, "ok")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__old")))
  }

  test("AvroIo read closes early-exited iterators (limit stops mid-file)") {
    import graft.sources.AvroIo
    val dir = TestSpark.tempDir("graft_avro_l").toString + "/t"
    AvroIo.write((1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), dir)
    // CollectLimitExec stops pulling mid-partition: the task-completion
    // listener (not iterator exhaustion) must close the container stream
    val first = AvroIo.read(spark, dir, Seq((1L, "s")).toDF("k", "v").schema)
      .limit(3).collect()
    assert(first.length == 3)
    // full re-read still works — the file handle was released, not wedged
    assert(AvroIo.read(spark, dir,
      Seq((1L, "s")).toDF("k", "v").schema).count() == 1000)
  }

  test("XML roundtrip escapes markup-significant characters (s13's seam the fixture can't hit)") {
    // the customer fixture has no <,&,>,',\" in any string — this pins the
    // writer-escape/reader-unescape cycle s13_scan_xml relies on
    val dir = TestSpark.tempDir("graft_xml_esc").toString + "/t"
    val rows = Seq((1L, """a<b&c>d"e'f"""), (2L, "line1\nline2"), (3L, "]]>&amp;&lt;"))
    rows.toDF("id", "s").write.format("xml")
      .option("rowTag", "rec").mode("overwrite").save(dir)
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    val back = spark.read.format("xml").option("rowTag", "rec").schema(sch).load(dir)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back == rows, s"got: $back")
  }

  test("XML roundtrip preserves NULLs (writer omits the element, reader restores null)") {
    val dir = TestSpark.tempDir("graft_xml_null").toString + "/t"
    Seq((1L, Some("x"), Some(10L)), (2L, None, Some(20L)), (3L, Some("z"), None))
      .toDF("id", "s", "v")
      .write.format("xml").option("rowTag", "rec").mode("overwrite").save(dir)
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    val back = spark.read.format("xml").option("rowTag", "rec").schema(sch).load(dir)
      .as[(Long, Option[String], Option[Long])].collect().sortBy(_._1).toSeq
    assert(back == Seq((1L, Some("x"), Some(10L)), (2L, None, Some(20L)),
      (3L, Some("z"), None)), s"got: $back")
  }

  test("atomic sink: a reader pinned to v1 racing truncate-swap + expire + vacuum sees v1 bytes or a clean failure, never a mix") {
    // the index-maintenance serve contract (ann_ivf_swap_serve/_expire)
    // under real concurrency: while a retrain truncate-SWAPs the table
    // and retention expires+vacuums the old snapshot, a reader that
    // pinned option("version", 1) must get either (a) exactly the v1
    // rows — the scan captures its file list from the v1 manifest at
    // plan time, and truncate only orphans files, never rewrites them —
    // or (b) after retirement, a loud failure (the sink's own
    // expired-version error, or a missing-file error if vacuum collects
    // mid-scan, the documented run-vacuum-when-no-readers caveat).
    // What must NEVER happen: a mix of v1 and v2 rows, or a silent
    // fallback to the new version.
    import graft.sources.AtomicSink
    val loc = TestSpark.tempDir("graft_atomic_rv").toString + "/t"
    val rowsV1 = (0L until 20L).map(i => (i, "v1"))
    val rowsV2 = (100L until 120L).map(i => (i, "v2"))
    rowsV1.toDF("id", "src").coalesce(2).write.format("graft-atomic")
      .option("path", loc).mode("append").save()                      // v1
    val expired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val good = new java.util.concurrent.atomic.AtomicInteger(0)
    val cleanFail = new java.util.concurrent.atomic.AtomicInteger(0)
    val torn = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val got = spark.read.schema("id LONG, src STRING")
            .format("graft-atomic").option("version", "1").load(loc)
            .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
          if (got == rowsV1) good.incrementAndGet()
          else torn.add(s"torn read: ${got.take(5)}... (${got.length} rows)")
        } catch {
          case e: Throwable =>
            // failures are legitimate ONLY once retirement has begun,
            // and must be loud (expired-version or missing-file), which
            // any non-v1-bytes outcome here is — but never before expire
            if (expired.get()) cleanFail.incrementAndGet()
            else torn.add(s"failure before expire: ${e.getMessage}")
        }
      }
    })
    reader.start()
    Thread.sleep(500)                                                 // v1 reads in flight
    rowsV2.toDF("id", "src").coalesce(2).write.format("graft-atomic")
      .option("path", loc).mode("overwrite").save()                   // truncate-SWAP to v2
    Thread.sleep(500)                                                 // pinned reads race the swap
    val goodBeforeExpire = good.get()
    // flag flips BEFORE expireVersions, deliberately: a read planned
    // pre-expire can legitimately fail DURING retirement (manifest gone
    // mid-plan, vacuum collecting mid-scan — the documented races), and
    // classifying by failure-time flag accepts those without a flake
    // window. The cost — a read that was going to fail anyway for a
    // pre-existing bug landing in the microseconds after the flip — is
    // covered statistically by the full pre-swap/post-swap seconds where
    // the flag is false and any failure is fatal to the test.
    expired.set(true)
    assert(AtomicSink.expireVersions(loc, keepLast = 1) == Seq(1L))
    assert(AtomicSink.vacuum(loc) > 0, "v1's exclusive files reclaimed")
    Thread.sleep(500)                                                 // post-retirement reads
    stop.set(true); reader.join(60000)
    assert(!reader.isAlive, "reader hung")
    assert(torn.isEmpty, s"non-clean outcome: ${torn.peek()}")
    assert(goodBeforeExpire > 0, "no v1 read ever landed while racing the swap — test proved nothing")
    // post-expire, a pinned read must fail the loud way, not succeed
    // against ghost state: current serve is v2, v1 is gone
    val err = intercept[Exception] {
      spark.read.schema("id LONG, src STRING").format("graft-atomic")
        .option("version", "1").load(loc).collect()
    }
    assert(err.getMessage.contains("does not exist or was expired"))
    val current = spark.read.schema("id LONG, src STRING")
      .format("graft-atomic").load(loc)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(current == rowsV2, "current serve must be exactly the swapped v2")
  }

  test("atomic sink: concurrent appenders never lose each other's commit (lock serializes the merge)") {
    // the failure this pins: two manifest read-modify-writes interleave
    // and the second publish drops the first's files — the lost update
    // the commit lock + owner fence exist to prevent
    val loc = TestSpark.tempDir("graft_atomic_cc").toString + "/t"
    val writers = 4
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until writers).map { w =>
      new Thread(() => {
        try {
          import spark.implicits._
          Seq.tabulate(10)(i => (w * 100L + i, s"w$w"))
            .toDF("id", "src").coalesce(1)
            .write.format("graft-atomic").option("path", loc)
            .mode("append").save()
        } catch { case t: Throwable => errs.add(t); () }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    assert(ts.forall(!_.isAlive),
      "a writer hung past the join timeout (commit-lock deadlock?)")
    assert(errs.isEmpty, s"concurrent commits must all succeed: ${errs.peek()}")
    val manifest = java.nio.file.Files
      .readString(java.nio.file.Paths.get(loc, "_MANIFEST")).split("\n").toSeq
    assert(manifest.length == writers,
      s"every appender's file must survive the merge, got $manifest")
    val got = spark.read.format("graft-atomic")
      .schema("id LONG, src STRING").option("path", loc).load()
    assert(got.count() == writers * 10L)
    assert(got.select("src").distinct().count() == writers,
      "rows from every concurrent writer must be present")
  }
}
