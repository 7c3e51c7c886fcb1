package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{BlockLoss, DataFrame}
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Graph, TextDedup}

/** The iterative loops' shared policy ([[graft.ext.Fixpoint]]): a lost
  * cached block recomputes instead of failing the loop, and a loop never
  * writes the conf of the session it was called on. */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Two chains (0..11 and 20..27) and a triangle (40, 41, 42): deep
    * enough that every loop runs more than six jobs. */
  private lazy val pairs: Seq[(Long, Long)] =
    (0L until 11L).map(i => (i, i + 1)) ++ (20L until 27L).map(i => (i, i + 1)) ++
      Seq((40L, 41L), (41L, 42L), (40L, 42L))
  private lazy val edges = pairs.toDF("src", "dst")
  private lazy val seeds = Seq((0L, 1L), (27L, 2L), (40L, 3L)).toDF("node", "label")
  private lazy val ccEdges = pairs.toDF("d1", "d2")
  private lazy val vertices = (pairs.flatMap(p => Seq(p._1, p._2)).distinct :+ 99L).toDF("id")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  for ((name, run) <- Seq[(String, () => DataFrame)](
      "pageRank" -> (() => Graph.pageRank(edges, 6)),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, seeds, 4)),
      "connectedComponents" -> (() => TextDedup.connectedComponents(vertices, ccEdges)),
      "connectedComponentsStar" -> (() => TextDedup.connectedComponentsStar(vertices, ccEdges)))) {
    test(s"$name: losing every cached block after jobs 2, 4 and 6 leaves the result unchanged") {
      val clean = rows(run())
      val (lossy, drops) = BlockLoss.during(spark, Set(2, 4, 6))(rows(run()))
      assert(drops == 3, "the loop must run at least six jobs")
      assert(lossy == clean)
    }
  }

  test("pageRank and labelPropagation never write the caller's conf, seen from another thread") {
    val key = SQLConf.ADAPTIVE_EXECUTION_ENABLED.key
    val before = spark.conf.getAll
    val stop = new AtomicBoolean
    val polls = new AtomicLong
    val seen = ConcurrentHashMap.newKeySet[String]()
    val poller = new Thread(() => while (!stop.get) {
      seen.add(spark.conf.get(key))
      polls.incrementAndGet(): Unit
    })
    poller.start()
    try {
      Graph.pageRank(edges, 4).collect()
      Graph.labelPropagation(edges, seeds, 3).collect()
    } finally {
      stop.set(true)
      poller.join()
    }
    assert(polls.get > 0)
    assert(seen.asScala == Set("true"))
    assert(spark.conf.getAll == before)
  }
}
