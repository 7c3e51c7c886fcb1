package graft

import java.io.File
import java.util.concurrent.{Callable, CountDownLatch, Executors}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Pack

/** A declared query's per-run state is bounded: a site keeps its newest
  * two run directories, a run leaves no table or view in the catalog,
  * and two runs of one query at the same time both read their own
  * files. */
class RunsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def frame(s: SparkSession, name: String): DataFrame =
    Pack.byName(name).fn(s, TestSpark.sf0001)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The run directories of `site`: `<tmpdir>/graft_runs_<appId>/<site>/<id>`. */
  private def runsOf(s: SparkSession, site: String): Set[Long] =
    Option(new File(sys.props("java.io.tmpdir"),
        s"graft_runs_${s.sparkContext.applicationId}/$site").listFiles())
      .toSeq.flatten.map(_.getName.toLong).toSet

  test("three runs of st5 leave exactly the directories of runs 2 and 3") {
    val site = "st5_trigger_file_arrival"
    val caller = spark.newSession()
    val newest = (1 to 3).map { _ =>
      val before = runsOf(caller, site)
      assert(rows(frame(caller, site)).nonEmpty)
      val added = runsOf(caller, site) -- before
      assert(added.size == 1, added)
      added.head
    }
    assert(runsOf(caller, site) == newest.tail.toSet)
  }

  test("the caller's and the stream session's catalogs are the same after run 3 of st4, st10 and k4 as after run 1") {
    val caller = spark.newSession()
    val names = Seq("st4_stream_tumbling_live", "st10_stream_stream_join", "k4_sink_ddl_create")
    def catalogs(): (Set[String], Set[String]) = {
      def tables(s: SparkSession) = s.catalog.listTables().collect().map(_.name).toSet
      (tables(caller), tables(Session.derived(caller, Session.Stream)))
    }
    // every frame is collected after its run dropped its sink view or table
    val first = names.map(n => n -> rows(frame(caller, n))).toMap
    val afterFirst = catalogs()
    for (_ <- 2 to 3; n <- names) assert(rows(frame(caller, n)) == first(n), n)
    assert(names.forall(first(_).nonEmpty))
    assert(catalogs() == afterFirst)
  }

  test("two runs of st7 on one session, built before either is collected, equal the serial run") {
    val shared = spark.newSession()
    val serial = rows(frame(shared, "st7_stream_running_totals"))
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val built = try {
      val runs = (1 to 2).map(_ => pool.submit(new Callable[DataFrame] {
        def call(): DataFrame = { go.await(); frame(shared, "st7_stream_running_totals") }
      }))
      go.countDown()
      runs.map(_.get())
    } finally pool.shutdown()
    assert(serial.nonEmpty)
    for (df <- built) assert(rows(df) == serial)
  }
}
