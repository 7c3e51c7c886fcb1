package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.io.{AgentSupport, Warehouse}
import graft.queries.Pack
import graft.schemas.Tables

/** One benchmark run in a fresh JVM: set up the session and the workload's
  * inputs, print READY, run the first (cold) op, then keep running ops
  * until `--seconds` have passed, and write the run's records to `--out`.
  *
  *   --workload ingest|analyst|curation  --seed N  --seconds S
  *   --trace 0|1  --data <generated tables>  --out <record dir>
  *
  * The number of warm ops is fixed by `--seconds` (`Workload.warmOps`), not
  * by how fast they run, so every build measures the same ops and the tail
  * is the same percentile on every build.
  *
  * Every op materializes its full result (`collect`). Result checks run
  * after each op's timed part; the oracle compare of the first result of
  * each declared query, and of every analyst answer, is done by run.py. */
object BenchMain {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, out: File)

  /** What one op reports: its timed duration, named sub-durations, and the
    * failures it hit (each names the query or question). */
  final case class OpResult(durS: Double, parts: Seq[(String, Double)],
                            failed: Seq[String], extra: Seq[(String, Any)] = Nil)

  trait Workload {
    def setup(): Unit
    def op(i: Int): OpResult
    def finish(): Unit = ()
    /** Warm ops a run of `seconds` makes, however long they take. */
    def warmOps(seconds: Double): Int
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), new File(m("out")))
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def errorText(what: String, e: Throwable): String =
    s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(300)}"

  def writeLines(f: File, lines: Iterator[String]): Unit = {
    val w = new PrintWriter(f, UTF_8)
    try lines.foreach(w.println) finally w.close()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.out.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s after JVM start")
    phase("session ready")
    if (o.trace) Trace.install(spark)
    Trace.enabled = o.trace
    Trace.counting = o.trace

    // schemas layer, traced runs only: the cold schema pins every declared
    // query starts from (untraced runs leave them to the first op)
    val pinMs = if (!o.trace) 0.0 else {
      val t0 = System.nanoTime()
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "documents", "embeddings").foreach(t => Tables(spark, o.data, t).schema)
      Tables.events(spark, o.data).schema
      secondsSince(t0) * 1e3
    }

    val wl: Workload = o.workload match {
      case "ingest" => new Declared(spark, o, Workloads.ingestCycle)
      case "curation" => new Declared(spark, o, Workloads.curationPass)
      case "analyst" => new Analyst(spark, o)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    wl.setup()
    phase("workload set up")
    Trace.flush(spark)
    Trace.enabled = false
    Trace.counting = false
    println("READY")
    System.out.flush()
    run(spark, o, wl, pinMs)
    spark.stop()
  }

  private def run(spark: SparkSession, o: Opts, wl: Workload, pinMs: Double): Unit = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val ops = mutable.ArrayBuffer.empty[String]
    var i = 0
    def runOp(): Unit = {
      val opId = s"op-$i"
      // traced runs trace the cold op and every other warm op; the
      // untraced warm ops give the tracing overhead
      val traced = o.trace && (i == 0 || i % 2 == 1)
      Trace.currentOp = opId
      Trace.enabled = traced
      Trace.counting = traced
      spark.sparkContext.setJobGroup(opId, opId, interruptOnCancel = false)
      val before = Scratch.usage(tmp)
      val r = wl.op(i)
      if (traced) Trace.counter(opId).add("ext.cached_bytes",
        spark.sparkContext.getRDDStorageInfo.map(s => s.memSize + s.diskSize).sum.toDouble)
      Trace.flush(spark)
      Trace.enabled = false
      Trace.counting = false
      val after = Scratch.usage(tmp)
      ops += Json.obj((Seq("i" -> i, "op" -> opId, "traced" -> traced, "dur_s" -> r.durS,
        "parts" -> Json.Raw(Json.obj(r.parts: _*)), "failed" -> r.failed,
        "files_left" -> (after._1 - before._1), "bytes_left" -> (after._2 - before._2)) ++
        r.extra): _*)
      i += 1
    }
    runOp()
    // at least two warm ops when traced, so the untraced one gives the tracing overhead
    val warm = math.max(wl.warmOps(o.seconds), if (o.trace) 2 else 1)
    while (i <= warm) runOp()
    wl.finish()

    writeLines(new File(o.out, "ops.jsonl"), ops.iterator)
    val summary = mutable.ArrayBuffer[(String, Any)](
      "schemas.pin_ms" -> pinMs,
      "peak_rss_kb" -> Scratch.peakRssKb,
      "cpus" -> Runtime.getRuntime.availableProcessors)
    if (o.trace) {
      summary ++= ParserBench.run(spark, o.data, new File(o.out, "parser_docs"))
      writeLines(new File(o.out, "spans.jsonl"), Trace.spansJsonl)
      Files.write(new File(o.out, "counters.json").toPath, Trace.countersJson.getBytes(UTF_8))
    }
    Files.write(new File(o.out, "summary.json").toPath, Json.obj(summary.toSeq: _*).getBytes(UTF_8))
  }

  /** Ops that run declared queries (`Pack.byName(..).fn`) in named groups,
    * every result collected; the first result of each query is kept as
    * parquet for the oracle compare, later ones must hash equal to it. */
  final class Declared(spark: SparkSession, o: Opts, groups: Seq[(String, Seq[String])])
      extends Workload {
    private val firstHash = mutable.Map.empty[String, String]
    private val resultsDir = new File(o.out, "results")

    private val names = groups.flatMap(_._2)

    def setup(): Unit = names.foreach(Pack.byName)

    /** One warm op per 10 s: a cycle or a pass takes 7-10 s warm on 4 cores. */
    def warmOps(seconds: Double): Int = math.max(1, (seconds / 10).toInt)

    /** The oracle SQL next to the saved results, as tools/check.py reads them. */
    override def finish(): Unit = {
      resultsDir.mkdirs()
      Files.write(new File(resultsDir, "oracle_sql.json").toPath,
        Json.obj(names.flatMap(n => Pack.byName(n).oracle.map(n -> _)): _*).getBytes(UTF_8))
    }

    def op(i: Int): OpResult = {
      val failed = mutable.ArrayBuffer.empty[String]
      val results = mutable.ArrayBuffer.empty[(String, StructType, Array[Row])]
      val queryTimes = mutable.ArrayBuffer.empty[(String, Double)]
      val t0 = System.nanoTime()
      val groupTimes = Trace.span("op") {
        groups.map { case (group, names) =>
          val g0 = System.nanoTime()
          Trace.span(group) {
            names.foreach { name =>
              val q0 = System.nanoTime()
              try Trace.span(s"query:$name") {
                val df = Trace.span("construct")(Pack.byName(name).fn(spark, o.data))
                Trace.span("plan")(df.queryExecution.executedPlan)
                val rows = Trace.span("materialize")(df.collect())
                results += ((name, df.schema, rows))
              } catch { case NonFatal(e) => failed += errorText(name, e) }
              queryTimes += name -> secondsSince(q0)
            }
          }
          group -> secondsSince(g0)
        }
      }
      val dur = secondsSince(t0)
      val parts = groupTimes ++ queryTimes
      Trace.flush(spark)
      Trace.withoutCounters(spark) {
        Trace.span("check") {
          results.foreach { case (name, schema, rows) =>
            try check(name, schema, rows).foreach(failed += _)
            catch { case NonFatal(e) => failed += errorText(s"$name check", e) }
          }
        }
      }
      OpResult(dur, parts, failed.toSeq)
    }

    private def check(name: String, schema: StructType, rows: Array[Row]): Option[String] = {
      val h = Canonical.hash(rows)
      firstHash.get(name) match {
        case Some(h0) =>
          if (h0 == h) None else Some(s"$name: result differs from its first run in this session")
        case None =>
          firstHash(name) = h
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(new File(resultsDir, name).getPath)
          None
      }
    }
  }

  /** The Telegram analyst: one client asking seeded questions through
    * AgentSupport over the three warehouse tables, each question waiting
    * for the previous answer (closed loop). */
  final class Analyst(spark: SparkSession, o: Opts) extends Workload {
    private val questions = Questions.stream(o.seed)

    /** Four questions per second, in whole rounds of the template bank (an
      * answer takes about 0.3 s on 4 cores): 40 warm questions in 10 s, 38
      * of them answered, so the tail (10 answers beyond it) is their p74. */
    def warmOps(seconds: Double): Int = {
      val round = Questions.templateCount
      math.max(1, math.ceil(4 * seconds / round).toInt) * round
    }

    /** The warehouse tables are inputs, generated partitioned by month
      * next to the source tables; the session registers them by name. */
    def setup(): Unit = Workloads.warehouseTables.foreach(name =>
      Warehouse.read(spark, s"${o.data}/warehouse/$name").createOrReplaceTempView(name))

    def op(i: Int): OpResult = {
      val q = questions.next()
      var routed = ""
      var md: String = null
      var rejected = false
      var error: String = null
      val t0 = System.nanoTime()
      try Trace.span("op") {
        if (Trace.enabled) {
          routed = Trace.span("route")(AgentSupport.routeTable(q.text))
          Trace.span("validate")(AgentSupport.validateSql(spark, q.sql))
          val df = Trace.span("plan")(spark.sql(q.sql))
          // spark.sql analyses the question eagerly, in an execution the
          // listener never sees (markdown runs its own, on df.limit)
          Trace.countPhases(df.queryExecution, Seq("analysis"))
          md = Trace.span("render")(AgentSupport.markdown(df))
        } else {
          md = AgentSupport.answerQuestion(spark, q.text, t => { routed = t; q.sql })
        }
      } catch {
        case e: IllegalArgumentException if q.hostile => rejected = true
        case NonFatal(e) => error = errorText(s"question $i", e)
      }
      val dur = secondsSince(t0)
      val failed =
        Option(error).toSeq ++
          (if (q.hostile && !rejected) Seq(s"question $i: hostile SQL was not rejected") else Nil) ++
          (if (!q.hostile && error == null && routed != q.table)
            Seq(s"question $i: routed to '$routed', expected '${q.table}'") else Nil)
      OpResult(dur, Nil, failed, Seq("question" -> q.text, "table" -> q.table, "sql" -> q.sql,
        "hostile" -> q.hostile, "rejected" -> rejected, "markdown" -> Option(md)))
    }
  }
}

/** Order-insensitive result fingerprint; doubles rounded to 9 decimals, as
  * the oracle compare rounds them. */
object Canonical {
  private def cell(v: Any): String = v match {
    case null => "\u0000"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP).toString
    case f: Float => cell(f.toDouble)
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.mkString("b[", ",", "]")
    case other => other.toString
  }

  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(cell).sorted.foreach(s => md.update((s + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Files and bytes under the run's temp dir, and the JVM's peak RSS. */
object Scratch {
  def usage(dir: File): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    def walk(f: File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach { k =>
        if (k.isDirectory) walk(k) else { files += 1; bytes += k.length() }
      }
    }
    walk(dir)
    (files, bytes)
  }

  def peakRssKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}
