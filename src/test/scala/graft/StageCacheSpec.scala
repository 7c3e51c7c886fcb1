package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r16 staged-arrival content cache (PackCore.stageArrival):
  * repeat stagings of a semantically-equal frame must produce
  * byte-identical arrival files (the cache serves copies of ONE encode),
  * and distinct frames must never alias. */
class StageCacheSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def bytesOf(dir: String): Map[String, Seq[Byte]] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array())
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap

  test("repeat staging of an equal plan is a byte-identical copy; different plans never alias") {
    val s = spark
    import s.implicits._
    val d1 = graft.TestSpark.tempDir("graft_scs1").toString
    val d2 = graft.TestSpark.tempDir("graft_scs2").toString
    val d3 = graft.TestSpark.tempDir("graft_scs3").toString
    def frame(n: Int) = s.range(n).select(col("id"), (col("id") % 7).as("k"))
    // two stagings of the SAME plan (fresh DataFrame objects — equality is
    // semantic, not reference) into different dirs
    PackCore.stageArrival(d1, frame(100), "b1")
    PackCore.stageArrival(d2, frame(100), "b1")
    val b1 = bytesOf(d1)
    assert(b1.nonEmpty && b1 == bytesOf(d2),
      "equal plans must stage byte-identical files (one encode, copied)")
    // a DIFFERENT plan must not alias to the cached bytes
    PackCore.stageArrival(d3, frame(101), "b1")
    assert(bytesOf(d3) != b1, "distinct plans must never serve aliased bytes")
    // second batch into an existing dir keeps both batches' files
    PackCore.stageArrival(d1, frame(101), "b2")
    val names = bytesOf(d1).keySet
    assert(names.exists(_.startsWith("b1_")) && names.exists(_.startsWith("b2_")))
    // read-back sanity: the staged batch is the frame, exactly
    val back = s.read.parquet(d3).as[(Long, Long)].collect().toSet
    assert(back == (0L until 101L).map(i => (i, i % 7)).toSet)
  }

  test("externally reaped staging dir is a cache miss, not an NPE") {
    val s = spark
    import s.implicits._
    val d1 = graft.TestSpark.tempDir("graft_scs4").toString
    val d2 = graft.TestSpark.tempDir("graft_scs5").toString
    def frame() = s.range(50).select(col("id"), (col("id") * 3).as("v"))
    PackCore.stageArrival(d1, frame(), "b1")
    // simulate an OS /tmp reaper removing every live staging dir the
    // cache could be serving (the cache is private; sweeping the staging
    // root hits the one holding this plan's encode without reaching into it)
    val swept = Option(graft.io.Runs.siteRoot(s, "stage").listFiles()).getOrElse(Array())
    swept.foreach { d =>
      Option(d.listFiles()).foreach(_.foreach(_.delete())); d.delete()
    }
    assert(swept.nonEmpty, "the sweep must remove the staging dir it simulates reaping")
    // pre-fix this NPE'd on listFiles()=null; now it must re-encode
    PackCore.stageArrival(d2, frame(), "b1")
    val back = s.read.parquet(d2).as[(Long, Long)].collect().toSet
    assert(back == (0L until 50L).map(i => (i, i * 3)).toSet,
      "re-encode after external reap must serve the same rows")
  }
}
