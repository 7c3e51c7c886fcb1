package graft

import org.scalacheck.{Gen, Prop, Properties}

/** Protocol property for the transactional sink: a RANDOM sequence of
  * append / overwrite / expireVersions / vacuum operations must agree
  * with a trivial in-memory model of the version lifecycle at every
  * step —
  *
  *   - the CURRENT table always reads as the model's current multiset;
  *   - every RETAINED version reads as exactly the state its commit
  *     published, even after later overwrites and vacuums (vacuum must
  *     never collect a file a retained snapshot still references);
  *   - an EXPIRED version fails loudly.
  *
  * SourceSpec pins each behavior on a scripted path; this sweeps the
  * interleavings (overwrite → expire → vacuum → append → …) where a
  * lifecycle bug would actually live. */
object AtomicSinkProps extends Properties("atomic-sink") {

  // each case replays a full op sequence with real Spark writes — keep
  // the count proportionate (every op is a job + several reads)
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = TestSpark.spark

  private sealed trait Op
  private case class Append(rows: List[(Long, String)]) extends Op
  private case class Overwrite(rows: List[(Long, String)]) extends Op
  private case class Expire(keepLast: Int) extends Op
  private case object Vacuum extends Op

  private val rowsGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(1, 4)
    rows <- Gen.listOfN(n, for {
      id <- Gen.choose(0L, 99L); v <- Gen.oneOf("x", "y", "z")
    } yield (id, v))
  } yield rows

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> rowsGen.map(Append),
    2 -> rowsGen.map(Overwrite),
    1 -> Gen.choose(1, 3).map(Expire),
    1 -> Gen.const(Vacuum))

  private val seqGen: Gen[List[Op]] = for {
    n <- Gen.choose(2, 6)
    ops <- Gen.listOfN(n, opGen)
    first <- rowsGen.map(Append) // guarantee at least one commit exists
  } yield first :: ops

  property("random append/overwrite/expire/vacuum sequence == version-lifecycle model") =
    Prop.forAll(seqGen) { ops =>
      import spark.implicits._
      val loc = TestSpark.tempDir("graft_asp").toString + "/t"
      val schema = Seq((0L, "x")).toDF("id", "v").schema
      def write(rows: List[(Long, String)], mode: String): Unit =
        rows.toDF("id", "v").coalesce(1)
          .write.format("graft-atomic").option("path", loc).mode(mode).save()
      def read(version: Option[Long]): List[(Long, String)] = {
        val r = spark.read.schema(schema).format("graft-atomic")
        version.fold(r.load(loc))(v => r.option("version", v).load(loc))
          .as[(Long, String)].collect().toList.sorted
      }
      // model: committed snapshots by version number + the retained set
      var current = List.empty[(Long, String)]
      var snapshots = Map.empty[Long, List[(Long, String)]]
      var nextV = 1L
      var retained = List.empty[Long]
      ops.foreach {
        case Append(rows) =>
          current = (current ++ rows).sorted
          snapshots += nextV -> current; retained :+= nextV; nextV += 1
          write(rows, "append")
        case Overwrite(rows) =>
          current = rows.sorted
          snapshots += nextV -> current; retained :+= nextV; nextV += 1
          write(rows, "overwrite")
        case Expire(k) =>
          if (retained.nonEmpty) {
            val expired = retained.dropRight(k)
            val got = graft.sources.AtomicSink.expireVersions(loc, k)
            assert(got == expired, s"expire: got $got want $expired")
            retained = retained.takeRight(k)
          }
        case Vacuum =>
          graft.sources.AtomicSink.vacuum(loc); ()
      }
      val currentOk = read(None) == current
      val retainedOk = retained.forall(v => read(Some(v)) == snapshots(v))
      val expiredOk = snapshots.keys.filterNot(retained.contains).forall { v =>
        try { read(Some(v)); false }
        catch { case e: Exception => e.getMessage.contains("expired") ||
          e.getMessage.contains("does not exist") }
      }
      val label = s"ops=${ops.size} versions=${nextV - 1} retained=$retained " +
        s"current=$currentOk retained_ok=$retainedOk expired_ok=$expiredOk"
      Prop(currentOk && retainedOk && expiredOk) :| label
    }
}
