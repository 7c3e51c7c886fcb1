package graft.io

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one owner of a declared query's per-run state: the directories a
  * run stages, checkpoints and sinks into, and the id that names its
  * memory sinks and tables. A run of `site` (the query's name) lives in
  * `<java.io.tmpdir>/graft_runs_<applicationId>/<site>/<id>`, a new
  * directory, so every run starts from scratch.
  *
  * Starting a run deletes its site's older runs but the newest one, so a
  * site holds at most [[Keep]] runs. This guarantees that a frame a run
  * returns, which reads its run's files lazily, stays readable until two
  * later runs of its query have started: a caller comparing two runs, or
  * two threads running one query at once, stays inside it. A listener
  * registered once per SparkContext deletes the context's root when the
  * application ends (a JVM stops its context on exit). */
object Runs {

  /** Runs a site keeps: the one that starts and the one before it. */
  val Keep = 2

  /** One run; [[id]] is unique in the JVM and grows with start order.
    * Serializable because stream closures (`foreachBatch`) capture it. */
  final class Run private[Runs] (val id: Long, root: File) extends Serializable {
    /** The run's directory `name` (an inbox, an archive, …), created. */
    def dir(name: String): String = {
      val f = new File(root, name)
      f.mkdirs()
      f.toString
    }
    /** The path of the run's sink `name`, which its writer creates. */
    def sink(name: String): String = { root.mkdirs(); new File(root, name).toString }
    /** Where the run stages its arrivals. */
    def in: String = dir("in")
    /** The run's streaming checkpoint. */
    def ckpt: String = dir("ckpt")
    /** The run's (first) sink. */
    def out: String = sink("out")
  }

  private val ids = new AtomicLong
  private val contexts = mutable.Set.empty[String]

  /** A new run of `site`; the site's runs but the newest are deleted. */
  def start(caller: SparkSession, site: String): Run = synchronized {
    val root = siteRoot(caller, site)
    Option(root.listFiles()).toSeq.flatten.flatMap(f => f.getName.toLongOption.map(_ -> f))
      .sortBy(_._1).dropRight(Keep - 1).foreach(r => FileUtils.deleteQuietly(r._2))
    val id = ids.incrementAndGet()
    new Run(id, new File(root, id.toString))
  }

  /** A fresh directory under `site` that no start deletes: it lives until
    * [[delete]] or the context's end (the staged-arrival cache's encodes). */
  def scratch(caller: SparkSession, site: String): String = synchronized {
    val f = new File(siteRoot(caller, site), ids.incrementAndGet().toString)
    f.mkdirs()
    f.toString
  }

  /** Delete `dir` and everything under it; a missing dir is a no-op. */
  def delete(dir: String): Unit = { FileUtils.deleteQuietly(new File(dir)); () }

  /** The directory that holds `site`'s runs in `caller`'s context. */
  private[graft] def siteRoot(caller: SparkSession, site: String): File = synchronized {
    val sc = caller.sparkContext
    val root = new File(sys.props("java.io.tmpdir"), s"graft_runs_${sc.applicationId}")
    if (contexts.add(sc.applicationId)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = delete(root.toString)
    })
    new File(root, site)
  }
}
