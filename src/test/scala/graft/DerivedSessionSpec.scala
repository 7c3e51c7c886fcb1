package graft

import java.util.concurrent.{Callable, ConcurrentHashMap, CountDownLatch, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{ListenerCensus, SparkSession, StreamSessions}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Pack

/** Streams and fixpoint loops run in sessions derived from their caller:
  * the caller's conf is never written, even while another thread reads
  * it; per-stream clones share one classloader; the caller's listeners
  * see the streams without any clone holding them; and queries on four
  * threads over one session return what they return alone. */
class DerivedSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def run(s: SparkSession, name: String): Seq[String] =
    Pack.byName(name).fn(s, TestSpark.sf0001).collect().map(_.toString).toSeq.sorted

  test("the micro-batches of st4 and st7 run in sessions without artifact isolation") {
    val caller = spark.newSession()
    for (name <- Seq("st4_stream_tumbling_live", "st7_stream_running_totals")) {
      val states = StreamSessions.artifactStates(caller)(run(caller, name): Unit)
      assert(states.nonEmpty, name)
      assert(states.forall(_.isEmpty), s"$name: $states")
    }
  }

  test("st7 never writes its caller's conf, seen from another thread") {
    val caller = spark.newSession()
    caller.conf.set(SQLConf.SHUFFLE_PARTITIONS.key, "7")
    // Tables.events sets the nanos-vintage flag on the session that reads
    // it, on purpose (Schemas.events); set it first so the snapshot holds it
    caller.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val keys = Seq(SQLConf.SHUFFLE_PARTITIONS.key, SQLConf.STATE_STORE_PROVIDER_CLASS.key,
      SQLConf.STREAMING_CHECKPOINT_FILE_CHECKSUM_ENABLED.key)
    def read(): Seq[String] = keys.map(caller.conf.get)
    val start = read()
    val before = caller.conf.getAll
    val stop = new AtomicBoolean
    val polls = new AtomicLong
    val seen = ConcurrentHashMap.newKeySet[Seq[String]]()
    val poller = new Thread(() => while (!stop.get) {
      seen.add(read())
      polls.incrementAndGet(): Unit
    })
    poller.start()
    try run(caller, "st7_stream_running_totals")
    finally {
      stop.set(true)
      poller.join()
    }
    assert(start.head == "7")
    assert(polls.get > 0)
    assert(seen.asScala == Set(start))
    assert(caller.conf.getAll == before)
  }

  test("a listener removed from the caller is left on no bus after its streams ran") {
    val caller = spark.newSession()
    val started = new AtomicLong
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet(): Unit
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val recorder = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = ()
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    caller.streams.addListener(listener)
    caller.listenerManager.register(recorder)
    try run(caller, "st7_stream_running_totals")
    finally {
      caller.streams.removeListener(listener)
      caller.listenerManager.unregister(recorder)
    }
    // st7 drains twice; both streams reach the caller's listener
    assert(started.get == 2)
    val holders = ListenerCensus.of(spark).collect {
      case (bus, ls) if ls.exists(l => (l eq listener) || (l eq recorder)) => bus.getClass.getName
    }
    assert(holders.isEmpty, holders)
  }

  test("st4, st7, q1_agg and graph_pagerank on four threads over one session equal their serial runs") {
    val shared = spark.newSession()
    val names = Seq("st4_stream_tumbling_live", "st7_stream_running_totals", "q1_agg", "graph_pagerank")
    val serial = names.map(n => n -> run(shared, n)).toMap
    val before = shared.conf.getAll
    val pool = Executors.newFixedThreadPool(names.size)
    val go = new CountDownLatch(1)
    val parallel = try {
      val runs = names.map(n => n -> pool.submit(new Callable[Seq[String]] {
        def call(): Seq[String] = { go.await(); run(shared, n) }
      }))
      go.countDown()
      runs.map { case (n, f) => n -> f.get() }.toMap
    } finally pool.shutdown()
    for (n <- names) {
      assert(serial(n).nonEmpty, n)
      assert(parallel(n) == serial(n), n)
    }
    assert(shared.conf.getAll == before)
  }
}
