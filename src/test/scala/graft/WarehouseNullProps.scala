package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** NULL-boundary property sweep over the warehouse mutation primitives.
  *
  * NULL semantics at partition boundaries have bitten twice (the r11
  * deleteWhere post-condition and the r12 prune-filter data loss — both
  * from null-unsafe `isin`/`filter` over a NULL partition), so the whole
  * surface is pinned here against an in-memory three-valued-logic model
  * with ADVERSARIAL NULL placement: NULL in the partition value, NULL in
  * the predicate's input columns (so the predicate itself evaluates to
  * NULL), and both at once.
  *
  * Model contracts pinned:
  *  - deleteWhere: survivors are exactly the rows where pred is NOT TRUE
  *    (SQL DELETE semantics — a NULL predicate does not delete), across
  *    any mix of NULL/value partitions, including fully-emptied NULL
  *    partitions (directory dropped) and NULL partitions where only
  *    some rows match (survivors rewritten, not dropped).
  *  - overwritePartitions: replaces exactly the partitions present in the
  *    incoming frame — the NULL partition is "present" when the frame has
  *    a NULL-valued row, untouched otherwise.
  *  - upsert: SQL MERGE equality matching — NULL keys never match, so
  *    NULL-keyed base AND update rows are both retained (see Ops.upsert
  *    scaladoc).
  */
object WarehouseNullProps extends Properties("warehouse-null") {

  // every case writes + mutates + reads back a real parquet table (several
  // Spark jobs); 10 cases per property keeps the suite proportionate
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark

  /** (partition value — None is the NULL partition, x — None makes the
    * x-predicates evaluate to NULL, v, unique id) */
  private type R = (Option[String], Option[Long], Long, Long)

  private val rowsGen: Gen[List[R]] = for {
    n <- Gen.choose(1, 24)
    rows <- Gen.listOfN(n, for {
      // domain includes path-escaped shapes ('/', '=') so every property
      // also sweeps the partition-directory escaping the r12 fix leaned on
      p <- Gen.frequency(2 -> Gen.const(Option.empty[String]),
        5 -> Gen.oneOf("a", "b", "c", "a/b", "k=v").map(Option(_)))
      x <- Gen.frequency(1 -> Gen.const(Option.empty[Long]),
        3 -> Gen.choose(0L, 9L).map(Option(_)))
      v <- Gen.choose(0L, 9L)
    } yield (p, x, v))
  } yield rows.zipWithIndex.map { case ((p, x, v), i) => (p, x, v, i.toLong) }

  /** A predicate in both Column and three-valued in-memory form. */
  private case class P(name: String, c: Column, eval: R => Option[Boolean])

  private val predGen: Gen[Long => P] = Gen.oneOf(
    // pure data predicate, never NULL
    (t: Long) => P(s"v<$t", col("v") < t, r => Some(r._3 < t)),
    // NULL where x is NULL — the "NULL in predicate" axis
    (t: Long) => P(s"x>$t", col("x") > t, r => r._2.map(_ > t)),
    // targets the NULL partition explicitly — "NULL in partition value"
    (t: Long) => P(s"p null & v<$t", col("p").isNull && col("v") < t,
      r => if (r._1.isEmpty) Some(r._3 < t) else Some(false)),
    // both axes at once: NULL partition AND possibly-NULL data pred
    (t: Long) => P(s"p null & x>$t", col("p").isNull && col("x") > t,
      r =>
        if (r._1.nonEmpty) Some(false) // FALSE && anything = FALSE
        else r._2.map(_ > t)), // TRUE && NULL = NULL
    // partition-vs-data mix that can empty value partitions too
    (t: Long) => P(s"p='a' | x>$t",
      col("p") === "a" || col("x") > t,
      r => {
        val a: Option[Boolean] = r._1.map(_ == "a").orElse(None) // NULL p ⇒ NULL
        val b: Option[Boolean] = r._2.map(_ > t)
        (a, b) match { // SQL OR
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false))        => Some(false)
          case _                                 => None
        }
      }))

  // Hermeticity (VERDICT r14 #3: one full-suite run errored here while the
  // suite passes in isolation — unreproduced since, so treat the
  // environment as hostile): every case gets its own temp dir AND deletes
  // it when the case passes. A full run otherwise leaks ~30 parquet table
  // dirs per pass into /tmp on top of every other suite's — inode/space
  // pressure late in the suite is exactly the kind of shared-resource
  // contention a property-level flake points at. A case that THROWS keeps
  // its dir (the error's table stays inspectable); a returned-false case
  // cleans up like a pass — its :| label carries the diagnostics.
  private def withDir[A](tag: String)(body: String => A): A = {
    val root = TestSpark.tempDir(s"graft_np_$tag")
    val r = body(root.toString + "/t")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(root.toFile)
    r
  }

  private def toDf(rows: List[R]): DataFrame = {
    import spark.implicits._
    rows.toDF("p", "x", "v", "id")
  }

  /** Read back as the same tuple shape (partition col comes back last —
    * select into canonical order; NULL partition reads back as null). */
  private def readBack(path: String): Set[R] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select(col("p"), col("x"), col("v"), col("id"))
      .as[(Option[String], Option[Long], Long, Long)].collect().toSet
  }

  property("deleteWhere survivors == rows where pred is NOT TRUE (3VL), any NULL-partition mix") =
    Prop.forAll(rowsGen, predGen, Gen.choose(0L, 9L)) { (rows, mkPred, t) =>
      withDir("del") { path =>
      val pred = mkPred(t)
      graft.io.Warehouse.appendPartitioned(toDf(rows), path, Seq("p"))
      val (nParts, nAffected) = graft.io.Warehouse.deleteWhere(spark, path, "p", pred.c)
      val expectedSurvivors = rows.filter(r => pred.eval(r) != Some(true)).toSet
      val expectedParts = rows.map(_._1).distinct.size.toLong
      val affectedParts = rows.filter(r => pred.eval(r) == Some(true)).map(_._1).distinct.size.toLong
      val got =
        if (expectedSurvivors.isEmpty) { // an all-deleted table has no files
          val files = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
          if (files.exists(_.getName.startsWith("p="))) readBack(path) else Set.empty[R]
        } else readBack(path)
      val label = s"pred=${pred.name} t=$t got=${got.size} want=${expectedSurvivors.size} " +
        s"parts=($nParts,$nAffected) want=($expectedParts,$affectedParts)"
      Prop(got == expectedSurvivors && nParts == expectedParts &&
        nAffected == affectedParts) :| label
      }
    }

  property("overwritePartitions replaces exactly the incoming partitions, NULL partition included") =
    Prop.forAll(rowsGen, rowsGen) { (base, incomingRaw) =>
      // re-id the incoming batch so rows are distinguishable from base's
      val incoming = incomingRaw.map { case (p, x, v, i) => (p, x, v, 1000L + i) }
      withDir("ovw") { path =>
        graft.io.Warehouse.appendPartitioned(toDf(base), path, Seq("p"))
        graft.io.Warehouse.overwritePartitions(toDf(incoming), path, Seq("p"))
        val touched = incoming.map(_._1).toSet
        val expected = (incoming ++ base.filterNot(r => touched(r._1))).toSet
        readBack(path) == expected
      }
    }

  property("upsert NULL keys never match (SQL MERGE equality): both sides retained") =
    Prop.forAll(rowsGen, rowsGen) { (baseRaw, updRaw) =>
      import spark.implicits._
      // key = the nullable partition-shaped column; dedupe per side so the
      // merge grain is well-defined (one row per key, NULLs all kept)
      def dedupe(rows: List[R]): List[R] =
        rows.groupBy(_._1).flatMap {
          case (None, rs)    => rs // NULL keys are each their own row
          case (Some(_), rs) => rs.take(1)
        }.toList
      val base = dedupe(baseRaw)
      val upd = dedupe(updRaw).map { case (p, x, v, i) => (p, x, v, 1000L + i) }
      val got = graft.ops.Ops.upsert(toDf(base), toDf(upd), Seq("p"))
        .as[(Option[String], Option[Long], Long, Long)].collect().toSet
      val updKeys = upd.flatMap(_._1).toSet // non-NULL update keys only
      val expected = (upd ++ base.filter(r => r._1.forall(!updKeys(_)))).toSet
      got == expected
    }
}
