package graft

/** Driver-run benchmark: one JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR. Each query is run once untimed (JVM/codegen/file-
  * index warmup) and once timed, in name order, so numbers reflect
  * steady-state engine cost rather than first-touch JIT noise. */
object Bench {

  /** IO-floor probe (r16): the CPU calib cannot see ambient IO load —
    * one r16 bench run read a FAST CPU probe while checkpoint-bound
    * queries ran 1.9-2.1× slow (an IO surge), producing 24 phantom
    * normalized flags. This times the pattern the streaming floor
    * actually pays: small synced file creates + renames (the
    * offset/commit-log shape), min-of-3 over 100 files each. Guarded to
    * 0.0 on ANY failure — a diagnostics field must never break the
    * bench record. */
  def ioProbe(): Double =
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_ioprobe")
      def pass(tag: Int): Double = {
        val t0 = System.nanoTime()
        (0 until 100).foreach { i =>
          val f = dir.resolve(s"p$tag-$i.tmp")
          val out = new java.io.FileOutputStream(f.toFile)
          try { out.write(new Array[Byte](512)); out.getFD.sync() }
          finally out.close()
          java.nio.file.Files.move(f, dir.resolve(s"p$tag-$i.log")): Unit
        }
        (System.nanoTime() - t0) / 1e9
      }
      try {
        pass(-1) // warmup
        (0 to 2).map(pass).min
      } finally {
        // cleanup must run even when a pass throws mid-way (disk-full,
        // permission flip): a failed probe must not leave ~400 files in
        // the shared tmpdir
        Option(dir.toFile.listFiles()).foreach(_.foreach(_.delete()))
        java.nio.file.Files.deleteIfExists(dir): Unit
      }
    } catch { case scala.util.control.NonFatal(_) => 0.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)
    // Box-speed calibration (r15 bench protocol): a fixed, data-free,
    // CPU-bound whole-stage-codegen job timed min-of-3. Round-over-round
    // query deltas divide by the calib ratio before being read as
    // regressions — r14's "1.6-1.9x outliers" were exactly this box
    // running the UNCHANGED r13 tree 1.6x slower than the r13 record day
    // (bisected in r15: HEAD vs r13 tree back-to-back showed parity).
    // xxhash64 per row is real codegen'd CPU work; the % bound keeps the
    // running sum far from long overflow under ANSI arithmetic
    def calibrate(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 30).selectExpr("sum(xxhash64(id) % 1000)").head()
      (System.nanoTime() - t0) / 1e9
    }.min
    // one untimed pass warms codegen; min-of-3 measures after it
    spark.range(1L << 30).selectExpr("sum(xxhash64(id) % 1000)").head()
    val calib = calibrate()
    val calibIo = Bench.ioProbe()
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val broken = scala.collection.mutable.LinkedHashSet[String]()
    ordered.foreach { case (name, fn) =>
      try fn(spark, sfDir).count() catch {
        case t: Throwable =>
          broken += name
          System.err.println(s"BENCH ERROR [$name]: ${t.getClass.getName}: ${t.getMessage}")
      }
    }
    // two timed runs, min-of reported: single runs on a shared box swing
    // several-fold from GC/IO noise. Iterative queries (many small jobs
    // per run) are scheduler-bound and swing hardest under driver
    // contention — those get a third run (driver-vs-local spread was
    // >2x on them with min-of-2; NOTES round 4).
    val iterative = Set("graph_pagerank", "graph_degree_distribution",
      "dedup_cluster_cc", "dedup_cluster_summary",
      "agg_incremental_join_maintenance", "agg_incremental_maintenance",
      // live streaming executions: checkpoint setup + multiple jobs per
      // run makes them scheduler-bound too — same min-of-3 treatment
      "st4_stream_tumbling_live", "st5_trigger_file_arrival",
      "st7_stream_running_totals", "st8_stream_neardup_gate",
      "st9_stream_neardup_gate_growing", "st10_stream_stream_join",
      "st12_stream_session_window", "st13_stream_static_enrich",
      "st14_stream_stream_left_outer", "st15_stream_dedup_within_watermark",
      "st16_stream_jdbc_upsert", "st17_stream_merge_upsert",
      "st18_transform_with_state", "st19_tws_initial_state",
      "st20_tws_event_time_timers", "st21_state_reader_tws",
      "st22_tws_chained_rollup",
      // fixed-point multi-job loop — scheduler-bound like pagerank
      "graph_label_propagation",
      // r13 driver-vs-quiet-box swings (1.3-1.9x) concentrated in the
      // graph/CC family — ambient load hits their many-small-stages
      // shape hardest, so give the whole family the third run rather
      // than leaving phantom regressions for the round-over-round diff
      "graph_triangle_count", "graph_common_neighbors",
      "dedup_cluster_cc_star", "dedup_cluster_keep_best",
      // r14's phantom outliers (judged 1.6-1.9x, bisected in r15 to pure
      // box drift — NOTES r15): swing-prone under ambient load, so pin
      // them with the third run too
      "dedup_simhash_banded", "u1_udtf_ticket_items", "emb_pq_codes",
      // r16 additions: many small scheduler-bound jobs per run (8
      // train rounds + a driver collect each; 2 sink commits + 2
      // versioned scans) — same driver-contention profile as pagerank
      "text_bpe_train", "text_bpe_train_encode", "ann_ivf_swap_serve",
      "ann_ivf_swap_expire",
      // r17: the composed maintenance loop — 4 sink commits + 3 gate
      // collects + expire/vacuum per run, the same scheduler-bound
      // profile as its swap/pipeline siblings; the vocabulary swap has
      // the same shape (2 trains + 2 commits + 2 artifact reads)
      "pipeline_ann_maintenance_e2e", "text_bpe_vocab_swap_serve",
      // r17: two checkpointed drains + two trains + two artifact commits
      "st23_stream_vocab_version_pickup",
      // r16 benchdiff adjudication: the queries that flagged >1.2x
      // calib-normalized on a slow box (calib 0.70-0.89 vs the 0.517
      // record day) but re-timed at parity standalone — broadcast-heavy
      // self-joins and file-commit-bound sinks swing hardest under
      // ambient load because the CPU-probe calib under-corrects IO
      // degradation; min-of-3 damps the phantom instead of leaving it
      // for every future round's diff
      "text_tfidf_sim_topk", "k15_sink_backfill_overwrite",
      "k16_sink_training_shards", "join_bucketed_smb",
      "k17_sink_scd2_apply", "k3_sink_warehouse_append",
      "pipeline_bank_e2e", "pipeline_mp_e2e", "pipeline_pdf_e2e")
    // A query that throws is EXCLUDED from total/n_queries — its wall time
    // is time-to-throw, not engine cost, and counting it silently reports a
    // broken engine as a fast one (the r7 failure mode). `errors` in the
    // JSON line makes breakage impossible to read as a pass.
    val results = ordered.filterNot(q => broken(q._1)).flatMap { case (name, fn) =>
      // settle the heap between queries so one query's garbage (exploded
      // token streams, dropped broadcasts) can't tax its successors' timings
      System.gc()
      val runs = if (iterative(name)) 3 else 2
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => broken += name }
        (System.nanoTime() - t0) / 1e9
      }
      if (broken(name)) None else Some(name -> times.min)
    }
    // calib drifts DURING a ~20-min run (measured r16: 0.43-0.89 within
    // one session) — a start-only probe mis-normalizes queries that ran
    // under a different ambient load. Sample it again after the pack and
    // report both; readers treat [calib, calib_end] as the run's
    // box-speed envelope rather than a point.
    val calibEnd = calibrate()
    val calibIoEnd = Bench.ioProbe()
    // The consumer captures only the last ~2000 chars of output, so the
    // JSON line must stay well under that: per-query ms precision and only
    // the slowest headline queries in the dict (total still covers ALL).
    def fmt(v: Double): String = f"$v%.3f"
    // full per-query dump to STDERR for local optimization work — the
    // consumer reads only the stdout JSON line, which is unchanged
    results.sortBy(-_._2).foreach { case (k, v) =>
      System.err.println(f"BENCHQ $v%8.3f $k")
    }
    val headline = results.sortBy(-_._2).take(40).sortBy(_._1)
    val qs = headline.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // total_per_calib makes the record SELF-normalizing (r16 task 4):
    // totals across rounds compare as calib multiples — unit-free box
    // speed cancels out. Normalized by the (calib, calib_end) MIDPOINT,
    // the same denominator tools/benchdiff.py uses, so the record field
    // and the tool can never disagree about the same run.
    val calibMid = (calib + calibEnd) / 2
    val norm = if (calibMid > 0) total / calibMid else 0.0
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"errors":${broken.size},"calib":${fmt(calib)},"calib_end":${fmt(calibEnd)},"calib_io":${fmt(calibIo)},"calib_io_end":${fmt(calibIoEnd)},"total_per_calib":${fmt(norm)},"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
