package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Similarity, TextDedup}
import graft.functions.Exprs
import graft.plans.{GraftExtensions, LevenshteinPrefilter}

/** The session factory and the one extension table: every session gets
  * the whole engine, Column helpers work on any session, and the source
  * keeps one builder and one registration point. */
class SessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** One well-typed argument list per SQL function. */
  private val validArgs = Map(
    "graft_dot" -> Seq("array(1.0D, 2.0D)", "array(3.0D, 4.0D)"),
    "graft_simhash" -> Seq("array('a', 'b')"),
    "graft_shingles" -> Seq("array('a', 'b', 'c')", "2", "true"),
    "graft_levenshtein" -> Seq("'kitten'", "'sitting'"),
    "graft_bpe_apply" -> Seq("'t h e '", "'t h'"),
    "graft_bitmap_card" -> Seq("1L"),
    "graft_minhash" -> Seq("array('a')"),
    "graft_parse_ticket" -> Seq("'x'"))

  private def call(name: String, args: Seq[String]) =
    s"SELECT $name(${args.mkString(", ")})"

  private def resolvesAll(s: SparkSession): Unit =
    validArgs.foreach { case (name, args) => s.sql(call(name, args)) }

  private def messages(e: Throwable): Iterator[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).flatMap(c => Option(c.getMessage))

  test("every graft_* function rejects a wrong-arity call with an error naming it") {
    assert(validArgs.keySet == GraftExtensions.functions.map(_.name).toSet)
    for (f <- GraftExtensions.functions) {
      val args = validArgs(f.name)
      assert(args.length == f.arity, f.name)
      for (wrong <- Seq(args.init, args :+ args.last)) {
        val e = intercept[Exception](spark.sql(call(f.name, wrong)).collect())
        assert(messages(e).exists(_.contains(s"${f.name}: expected")), s"${call(f.name, wrong)}: $e")
      }
    }
  }

  test("Column helpers evaluate on a session built without the extensions") {
    val bare = TestSpark.bare()
    val df = bare.createDataFrame(Seq(("kitten", "sitting", "a b c", Seq(1.0, 2.0))))
      .toDF("a", "b", "t", "v")
      .select(Exprs.editDistance(col("a"), col("b")), TextDedup.shingles(col("t"), 2),
        Similarity.nativeDot(col("v"), col("v")))
    assert(df.collect().toSeq == Seq(Row(3, Seq("a b", "b c"), 5.0)))
    assert(SparkSession.active eq spark)
  }

  test("a factory session resolves every function from SQL and plans with both strategies") {
    resolvesAll(spark)
    val planned = spark.sessionState.planner.strategies
    GraftExtensions.strategies.foreach(st => assert(planned.contains(st), st))
  }

  test("install is idempotent under concurrency and a no-op on a factory session") {
    val bare = TestSpark.bare()
    val pool = Executors.newFixedThreadPool(8)
    val go = new CountDownLatch(1)
    try {
      val runs = (1 to 8).map(_ => pool.submit(new Callable[Unit] {
        def call(): Unit = { go.await(); GraftExtensions.install(bare) }
      }))
      go.countDown()
      runs.foreach(_.get())
    } finally pool.shutdown()
    resolvesAll(bare)
    val x = bare.experimental
    assert(x.extraOptimizations.count(_ == LevenshteinPrefilter) == 1)
    GraftExtensions.strategies.foreach(st => assert(x.extraStrategies.count(_ == st) == 1, st))
    val once = (x.extraOptimizations, x.extraStrategies)
    GraftExtensions.install(bare)
    assert((x.extraOptimizations, x.extraStrategies) == once)

    val fx = spark.experimental
    val before = (fx.extraOptimizations, fx.extraStrategies)
    GraftExtensions.install(spark)
    assert((fx.extraOptimizations, fx.extraStrategies) == before)
  }

  test("SPARK_GRAFT_* dials parse as positive ints and fail naming the variable") {
    val v = "SPARK_GRAFT_CPUS"
    assert(Session.positiveInt(Map.empty, v).isEmpty)
    assert(Session.positiveInt(Map(v -> "8"), v).contains(8))
    for (bad <- Seq("", "0", "-2", "four", "1.5", "99999999999")) {
      val e = intercept[IllegalArgumentException](Session.positiveInt(Map(v -> bad), v))
      assert(e.getMessage.contains(v), bad)
    }
  }

  /** Every `src/main` Scala file, keyed by its path under `src/main/scala`. */
  private lazy val text: Map[String, String] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
    finally walk.close()
  }

  test("src/main has one session builder and one extension registration point") {
    assert(text.nonEmpty)
    def filesWith(needle: String): Set[String] =
      text.collect { case (p, t) if t.contains(needle) => p }.toSet
    val ext = "graft/plans/GraftExtensions.scala"
    assert(filesWith("SparkSession.builder") == Set("graft/Session.scala"))
    for (needle <- Seq("createOrReplaceTempFunction", "registerFunction", "injectFunction",
                       "extraStrategies =", "extraOptimizations ="))
      assert(filesWith(needle) -- Set(ext) == Set.empty, needle)
    assert(filesWith("call_function(\"graft_").isEmpty)
    val installs = text.toSeq.filter(_._1 != ext)
      .map(_._2.split("GraftExtensions.install\\(", -1).length - 1).sum
    assert(installs == 3, "install is called from QDef.tuned, Ops.bandJoin and Ops.topKPerKey")
  }

  /** Neither query code nor a tool writes session conf: streams and
    * loops get their settings from a derived session, which only
    * `graft.Session` makes, and a tool's variants are records made under
    * the SPARK_GRAFT_* dials. The one exception is Schemas' `nanosAsLong`,
    * set on the session that reads `events`, because the flag is read
    * again when the caller's frame executes its scan. */
  test("src/main checkpoints nothing, and writes conf only in Session and nanosAsLong") {
    assert(text.collect { case (p, t) if t.contains("localCheckpoint(") => p }.isEmpty)
    val writes = for {
      (p, t) <- text.toSeq.sortBy(_._1)
      line <- t.linesIterator if "conf\\.(set|unset)\\(".r.findFirstIn(line).nonEmpty
    } yield p -> line.trim
    val (session, others) = writes.partition(_._1 == "graft/Session.scala")
    assert(session.nonEmpty)
    assert(others == Seq.fill(2)("graft/schemas/Schemas.scala" ->
      "s.conf.set(\"spark.sql.legacy.parquet.nanosAsLong\", \"true\")"), others)
    for (gone <- Seq("withStreamPartitions", "withRocksDb", "applyPolicy", "loopSession"))
      assert(!text.values.exists(_.contains(gone)), gone)
  }

  /** Per-run state has one owner, `graft.io.Runs`: no other code makes a
    * temp directory or keeps a run counter of its own. Bench's IO probe
    * is the one exception, a part of the driver's harness. */
  test("src/main makes no temp directory outside Bench, and keeps no run counter") {
    for (needle <- Seq("createTempDirectory", "createTempFile", "streamRun", "st11Run"))
      assert(text.collect { case (p, t) if t.contains(needle) => p }.toSet -- Set("graft/Bench.scala")
        == Set.empty, needle)
  }

  test("src/test makes temp directories only through TestSpark.tempDir") {
    val root = Paths.get("src/test/scala")
    val walk = Files.walk(root)
    val makers = try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .filter(p => "createTemp(Directory|File)\\(".r.findFirstIn(Files.readString(p)).nonEmpty)
      .map(p => root.relativize(p).toString).toSet
    finally walk.close()
    assert(makers == Set("graft/TestSpark.scala"))
  }

  test("src/main reads exactly the three SPARK_GRAFT_* dials") {
    val dial = "\"SPARK_GRAFT_([A-Z0-9_]+)\"".r
    val read = text.values.flatMap(t => dial.findAllMatchIn(t).map(_.group(1))).toSet
    assert(read == Set("CPUS", "SHUFFLE", "SF_DIR"))
  }
}
