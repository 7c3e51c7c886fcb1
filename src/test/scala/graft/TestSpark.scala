package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one JVM for tests). */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4)

  /** A new session on the shared context built without the engine's
    * extensions (the way an application builds its own); [[spark]] stays
    * the active and default session. */
  def bare(): SparkSession = {
    val shared = spark
    val s = SparkSession.builder().create()
    SparkSession.setActiveSession(shared)
    SparkSession.setDefaultSession(shared)
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** This JVM's root for test scratch directories under
    * `java.io.tmpdir`, deleted with everything in it when the JVM exits. */
  private lazy val scratch: Path = {
    val root = Files.createTempDirectory("graft_test")
    sys.addShutdownHook(FileUtils.deleteQuietly(root.toFile): Unit)
    root
  }

  /** A new, empty directory under this JVM's scratch root; the suites
    * make their scratch directories only here. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(scratch, prefix)
}
