package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.functions._

/** ScalaCheck properties for the round-2 distributed algorithms: each is
  * checked against a straightforward single-machine reference on random
  * inputs — the distributed plan must agree exactly. */
object OpsProps extends Properties("ops") {

  // each case runs real Spark jobs (the CC property runs an iterative
  // loop of them) — 10 random cases per property is plenty and keeps the
  // suite fast
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark

  // ---- connected components vs brute-force union-find -------------------

  private val graphGen: Gen[(Int, List[(Long, Long)])] = for {
    n <- Gen.choose(2, 24)
    m <- Gen.choose(0, 30)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
  } yield (n, edges)

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // path-compress fully, then min-id per component
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  property("connectedComponents == union-find min labels") =
    Prop.forAll(graphGen) { case (n, edges) =>
      import spark.implicits._
      val vertices = (0L until n.toLong).toDF("id")
      val e = if (edges.isEmpty) spark.emptyDataset[(Long, Long)].toDF("d1", "d2")
              else edges.toDF("d1", "d2")
      val got = graft.ext.TextDedup.connectedComponents(vertices, e)
        .as[(Long, Long)].collect().toMap
      got == unionFind(n, edges)
    }

  property("connectedComponentsStar == union-find min labels (Kiveris alternation)") =
    Prop.forAll(graphGen) { case (n, edges) =>
      import spark.implicits._
      val vertices = (0L until n.toLong).toDF("id")
      val e = if (edges.isEmpty) spark.emptyDataset[(Long, Long)].toDF("d1", "d2")
              else edges.toDF("d1", "d2")
      val got = graft.ext.TextDedup.connectedComponentsStar(vertices, e)
        .as[(Long, Long)].collect().toMap
      got == unionFind(n, edges)
    }

  // ---- chunking invariants ----------------------------------------------

  private val textGen: Gen[String] = for {
    n <- Gen.choose(1, 80)
    ws <- Gen.listOfN(n, Gen.alphaLowerStr.map(s => if (s.isEmpty) "w" else s.take(6)))
  } yield ws.mkString(" ")

  property("chunks cover every token in order with fixed stride") =
    Prop.forAll(textGen, Gen.choose(1, 10)) { (text, stride) =>
      import spark.implicits._
      val chunkTokens = stride + 3
      val words = text.split(" ").toSeq
      val got = Seq(text).toDF("text")
        .select(graft.ext.TextAnalysis.chunks(col("text"), chunkTokens, stride).as("c"))
        .as[Seq[String]].head()
      val expected = (0 until ((words.length - 1) / stride + 1)).map(i =>
        words.slice(i * stride, i * stride + chunkTokens).mkString(" "))
      got == expected && got.head.startsWith(words.head) &&
        words.forall(w => got.exists(_.contains(w)))
    }

  // ---- incremental aggregate maintenance --------------------------------

  private val valuesGen: Gen[List[Double]] =
    Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, Gen.choose(1, 99999)
      .map(c => c / 100.0)))

  property("incrementalAgg over random batch splits == one-shot aggregate") =
    Prop.forAll(valuesGen, Gen.choose(1, 4)) { (vals, parts) =>
      import spark.implicits._
      val df = vals.zipWithIndex
        .map { case (v, i) => (s"k${i % 3}", i % parts, v) }
        .toDF("key", "part", "v")
      val folded = (0 until parts).foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
        (prev, p) => Some(graft.ops.Ops.incrementalAgg(
          prev, df.filter(col("part") === p), Seq("key"), "v"))
      }.get
      val oneShot = graft.ops.Ops.incrementalAgg(None, df, Seq("key"), "v")
      val norm = (x: org.apache.spark.sql.DataFrame) => x.orderBy("key")
        .as[(String, Long, java.math.BigDecimal, Double, Double)].collect().toSeq
        .map { case (k, n, t, mn, mx) => (k, n, t.stripTrailingZeros, mn, mx) }
      norm(folded) == norm(oneShot)
    }

  // ---- segmented bitmap distinct vs exact count(DISTINCT) ---------------

  private val bitmapGen: Gen[(List[Long], Int)] = for {
    n <- Gen.choose(1, 200)
    // ids spanning several 2^16 segments, with repeats likely
    ids <- Gen.listOfN(n, Gen.choose(0L, 300000L))
    parts <- Gen.choose(1, 5)
  } yield (ids, parts)

  property("segmented graft_bitmap_card sums == count(DISTINCT) on random ids") =
    Prop.forAll(bitmapGen) { case (ids, parts) =>
      import spark.implicits._
      val df = ids.map(id => (id % 2, id)).toDF("k", "id").repartition(parts)
      val viaBitmap = df
        .selectExpr("k", "id >> 16 AS seg", "id & 65535 AS off")
        .groupBy($"k", $"seg").agg(expr("graft_bitmap_card(off)").as("c"))
        .groupBy($"k").agg(sum($"c").as("n"))
        .as[(Long, Long)].collect().toMap
      val exact = ids.groupBy(_ % 2).view.mapValues(_.distinct.size.toLong).toMap
      viaBitmap == exact
    }

  // ---- custom TopKPerKey operator vs window row_number ------------------

  private val topkGen: Gen[(List[(Long, Long, Double)], Int)] = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      key <- Gen.choose(0L, 5L)
      score <- Gen.choose(0, 999) // coarse scores force plenty of ties
    } yield (key, score / 10.0))
    k <- Gen.choose(1, 5)
  } yield (rows.zipWithIndex.map { case ((key, s), i) => (i.toLong, key, s) }, k)

  property("TopKPerKey == window row_number under random data, keys and k") =
    Prop.forAll(topkGen) { case (rows, k) =>
      import spark.implicits._
      val df = rows.toDF("id", "key", "score")
      val topk = graft.ops.Ops.topKPerKey(
        df, Seq("key"), Seq(("score", true), ("id", false)), k)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"key").orderBy($"score".desc, $"id")
      val win = df.withColumn("rn", row_number().over(w)).filter($"rn" <= k).drop("rn")
      topk.collect().toSet == win.collect().toSet
    }

  // ---- zip_with shingles vs naive sliding windows ------------------------

  private val docGen: Gen[(List[String], Int)] = for {
    len <- Gen.choose(0, 12)
    words <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "ee", "fff"))
    n <- Gen.choose(2, 4)
  } yield (words, n)

  property("shingles == naive sliding-window distinct n-grams") =
    Prop.forAll(docGen) { case (words, n) =>
      import spark.implicits._
      val expected = words.sliding(n).filter(_.size == n)
        .map(_.mkString(" ")).toList.distinct
      val got = Seq(words.mkString(" ")).toDF("text")
        .select(graft.ext.TextDedup.shingles(col("text"), n).as("g"))
        .as[Seq[String]].head().toList
      // split("") on an empty doc yields [""], whose "shingle" set for a
      // 1-word doc is empty for n>=2 either way
      got == expected || (words.isEmpty && got.isEmpty)
    }

  // ---- bandJoin vs quadratic reference -----------------------------------

  private val bandGen: Gen[(List[(Long, Long)], List[(Long, Long)], Long, Long)] = for {
    nl <- Gen.choose(0, 25); nr <- Gen.choose(0, 25)
    lefts <- Gen.listOfN(nl, for {
      k <- Gen.choose(0L, 2L); t <- Gen.choose(0L, 50L) } yield (k, t))
    rights <- Gen.listOfN(nr, for {
      k <- Gen.choose(0L, 2L); t <- Gen.choose(0L, 50L) } yield (k, t))
    lo <- Gen.choose(0L, 15L); hi <- Gen.choose(0L, 15L)
  } yield (lefts, rights, lo, hi)

  property("bandJoin == quadratic [t-lo, t+hi] reference on random inputs") =
    Prop.forAll(bandGen) { case (lefts, rights, lo, hi) =>
      import spark.implicits._
      val l = lefts.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("lid", "k", "t")
      val r = rights.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("rid", "rk", "rt")
      val got = graft.ops.Ops.bandJoin(l, r, Seq("k"), Seq("rk"), "t", "rt", lo, hi)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val expected = (for {
        ((lk, lt), li) <- lefts.zipWithIndex
        ((rk, rt), ri) <- rights.zipWithIndex
        if lk == rk && rt >= lt - lo && rt <= lt + hi
      } yield (li.toLong, ri.toLong)).toSet
      got == expected
    }

  // ---- asofNearest vs brute-force nearest scan ---------------------------

  private val nearestGen: Gen[(List[(Long, Long)], List[(Long, Long, Long)])] = for {
    nl <- Gen.choose(1, 12)
    nr <- Gen.choose(0, 12)
    lefts <- Gen.listOfN(nl, for {
      k <- Gen.choose(0L, 2L); t <- Gen.choose(0L, 40L)
    } yield (k, t))
    rights <- Gen.listOfN(nr, for {
      k <- Gen.choose(0L, 2L); t <- Gen.choose(0L, 40L)
    } yield (k, t))
  } yield (lefts,
    // dedup right (k,t) so the matched payload is deterministic
    rights.distinct.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) })

  property("asofNearest == brute-force closest right row (ties backward)") =
    Prop.forAll(nearestGen) { case (lefts, rights) =>
      import spark.implicits._
      val l = lefts.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("lid", "k", "t")
      val r = rights.toDF("k", "t", "rid")
      val got = graft.ops.Ops.asofNearest(l, r, Seq("k"), "t", "t")
        .select("lid", "rid").as[(Long, java.lang.Long)].collect().toMap
      lefts.zipWithIndex.forall { case ((k, t), i) =>
        val cands = rights.filter(_._1 == k)
        val expected =
          if (cands.isEmpty) null
          else {
            val best = cands.map { case (_, rt, rid) =>
              val d = math.abs(t - rt)
              // ties prefer backward (rt <= t); among equal (dist, side)
              // the right (k,t) is unique by construction
              (d, if (rt <= t) 0 else 1, rid)
            }.min
            best._3: java.lang.Long
          }
        got(i.toLong) == expected
      }
    }

  // ---- exactSubstringDedup vs brute-force span marking -------------------

  private val corpusGen: Gen[List[String]] = {
    // tiny vocabulary + short docs = plenty of colliding n-grams
    val word = Gen.oneOf("a", "b", "c", "d")
    for {
      nDocs <- Gen.choose(1, 6)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(1, 12)
        ws <- Gen.listOfN(len, word)
      } yield ws.mkString(" "))
    } yield docs
  }

  property("exactSubstringDedup == brute-force duplicate-span removal") =
    Prop.forAll(corpusGen) { docs =>
      import spark.implicits._
      val n = 3
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.ext.TextDedup.exactSubstringDedup(df, "doc_id", "text", n)
        .select("doc_id", "n_tokens", "n_kept")
        .as[(Long, Long, Long)].collect().map(t => t._1 -> t).toMap
      // reference: count every n-gram occurrence corpus-wide, mark the
      // n-length span of any gram with count >= 2, keep unmarked tokens
      val toks = docs.map(_.split(" ").toSeq)
      val counts = toks.flatMap(_.sliding(n).filter(_.size == n).map(_.mkString(" ")))
        .groupBy(identity).view.mapValues(_.size).toMap
      docs.indices.forall { i =>
        val ws = toks(i)
        val covered = Array.fill(ws.size)(false)
        ws.sliding(n).zipWithIndex.foreach { case (g, p) =>
          if (g.size == n && counts(g.mkString(" ")) >= 2)
            (p until p + n).foreach(covered(_) = true)
        }
        val kept = ws.indices.count(!covered(_))
        got(i.toLong) == ((i.toLong, ws.size.toLong, kept.toLong))
      }
    }

  property("exactSubstringDedup NULL-key rule: content still counts, row unassessable, keyed docs exact") =
    Prop.forAll(corpusGen) { docs =>
      import spark.implicits._
      val n = 3
      // the keyless doc reuses the first text so its grams FORCE
      // collisions — the sharpest probe of "content counts, row doesn't"
      val rows = docs.zipWithIndex.map { case (t, i) =>
        (java.lang.Long.valueOf(i.toLong), t)
      } :+ ((null.asInstanceOf[java.lang.Long], docs.head))
      val df = rows.toDF("doc_id", "text")
      val out = graft.ext.TextDedup.exactSubstringDedup(df, "doc_id", "text", n)
        .collect()
      // model: gram counts over ALL texts including the keyless doc's
      val toks = (docs :+ docs.head).map(_.split(" ").toSeq)
      val counts = toks.flatMap(_.sliding(n).filter(_.size == n).map(_.mkString(" ")))
        .groupBy(identity).view.mapValues(_.size).toMap
      val keyedOk = docs.indices.forall { i =>
        val ws = toks(i)
        val covered = Array.fill(ws.size)(false)
        ws.sliding(n).zipWithIndex.foreach { case (g, p) =>
          if (g.size == n && counts(g.mkString(" ")) >= 2)
            (p until p + n).foreach(covered(_) = true)
        }
        val kept = ws.indices.count(!covered(_))
        val r = out.find(r => !r.isNullAt(0) && r.getLong(0) == i.toLong).get
        r.getLong(1) == ws.size.toLong && r.getLong(2) == kept.toLong
      }
      val nullRow = out.find(_.isNullAt(0)).get
      val nullOk = nullRow.getLong(1) == toks.last.size.toLong &&
        (2 until 6).forall(nullRow.isNullAt)
      Prop(keyedOk && nullOk) :| s"out=${out.toSeq}"
    }

  // ---- upsert vs the SQL MERGE model (NULL keys never match) -------------

  private val upsertGen: Gen[(List[(Option[Long], Long)], List[(Option[Long], Long)])] = {
    val row = for {
      k <- Gen.frequency(4 -> Gen.choose(0L, 6L).map(Some(_)), 1 -> Gen.const(None))
      v <- Gen.choose(0L, 99L)
    } yield (k, v)
    for {
      base <- Gen.listOf(row)
      upd <- Gen.listOf(row)
    } yield (base, upd)
  }

  property("upsert == SQL MERGE model: matched keys replaced, NULL keys never match (always insert, always survive)") =
    Prop.forAll(upsertGen) { case (base, upd) =>
      import spark.implicits._
      def df(rows: List[(Option[Long], Long)]) =
        rows.map { case (k, v) => (k.map(java.lang.Long.valueOf).orNull, v) }
          .toDF("k", "v")
      val got = graft.ops.Ops.upsert(df(base), df(upd), Seq("k"))
        .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1)))
        .toSeq.groupBy(identity).view.mapValues(_.size).toMap
      // MERGE ON base.k = upd.k: equality with NULL is UNKNOWN, so a
      // NULL-key base row is never replaced and a NULL-key update row is
      // always inserted — both multisets survive side by side
      val updKeys = upd.flatMap(_._1).toSet
      val model = (upd ++ base.filter(b => b._1.isEmpty || !updKeys.contains(b._1.get)))
        .groupBy(identity).view.mapValues(_.size).toMap
      Prop(got == model) :| s"got=$got model=$model"
    }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  property("over_length gate: flagged rows are identity pass-throughs, in-scope rows match the ungated run") =
    Prop.forAll(corpusGen, Gen.choose(1, 12)) { (docs, maxTok) =>
      import spark.implicits._
      val n = 3
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def rows(maxTokens: Int) = graft.ext.TextDedup
        .exactSubstringDedup(df, "doc_id", "text", n, maxTokens = maxTokens)
        .select("doc_id", "n_tokens", "n_kept", "dup_frac", "cleaned_md5", "over_length")
        .as[(Long, Long, Long, Option[Double], String, Boolean)]
        .collect().map(t => t._1 -> t).toMap
      // ungated run: every corpusGen doc is ≤ 12 tokens, so Int.MaxValue
      // and 12 are both "no gate"
      val gated = rows(maxTok)
      val ungated = rows(Int.MaxValue)
      docs.indices.forall { i =>
        val text = docs(i)
        val nTok = text.split(" ").length.toLong
        val g = gated(i.toLong)
        if (nTok > maxTok)
          // identity pass-through: nothing removed, dup_frac unassessed,
          // fingerprint of the ORIGINAL text, flag set
          g == ((i.toLong, nTok, nTok, None, md5hex(text), true))
        else
          // the gate must not perturb in-scope docs (flagged neighbors'
          // grams still feed corpus counts)
          g == ungated(i.toLong)
      }
    }

  property("chunkedCumsum == per-group ordered running total") =
    Prop.forAll(
      Gen.listOf(for {
        g <- Gen.oneOf("a", "b", "c")
        id <- Gen.choose(0L, 40L)
        v <- Gen.choose(0L, 9L)
      } yield (g, id, v)).map(_.distinctBy(r => (r._1, r._2)))
    ) { rows =>
      import spark.implicits._
      rows.isEmpty || {
        // span 4 forces multi-chunk groups at this id range
        val got = graft.ops.Ops.chunkedCumsum(
            rows.toDF("g", "id", "v"), "g", "id", "v", "cum", span = 4L)
          .select("g", "id", "cum")
          .as[(String, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
        val expected = rows.groupBy(_._1).flatMap { case (g, rs) =>
          rs.sortBy(_._2).scanLeft((g, -1L, 0L)) { case ((_, _, acc), (_, id, v)) =>
            (g, id, acc + v)
          }.drop(1)
        }.map(t => (t._1, t._2) -> t._3).toMap
        got == expected
      }
    }

  property("chunkedCumsum is collision-safe for adversarial caller/cum column names") =
    Prop.forAll(
      Gen.oneOf("_chunk", "_Chunk", "_OFFSET", "_csum", "cum"),
      Gen.oneOf("_chunk", "_Chunk", "_offset_1", "plain")
    ) { (callerCol, cumName) =>
      import spark.implicits._
      // a caller column that shadows an internal name (any case) and a
      // cumName that IS an internal name must both survive: the result
      // keeps the caller column's data and carries the correct cumsum.
      // (callerCol == cumName under the case-insensitive resolver is
      // documented withColumn replacement, not a collision — skip.)
      callerCol.equalsIgnoreCase(cumName) || locally {
      val rows = Seq(("a", 1L, 2L, 99L), ("a", 2L, 3L, 98L), ("b", 1L, 5L, 97L))
      val df = rows.toDF("g", "id", "v", callerCol)
      val out = graft.ops.Ops.chunkedCumsum(df, "g", "id", "v", cumName, span = 1L)
      val got = out.select(col("g"), col("id"), col(cumName), col(s"`$callerCol`"))
        .as[(String, Long, Long, Long)].collect().toSet
      got == Set(("a", 1L, 2L, 99L), ("a", 2L, 5L, 98L), ("b", 1L, 5L, 97L))
      }
    }

  property("decontaminateSpans == brute-force eval-span marking") =
    Prop.forAll(corpusGen) { docs =>
      import spark.implicits._
      docs.size < 2 || {
        val n = 3
        val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val train = df.filter(col("doc_id") % 2 === 0)
        val eval = df.filter(col("doc_id") % 2 =!= 0)
        val got = graft.ext.TextDedup
          .decontaminateSpans(train, eval, "doc_id", "text", n)
          .select("doc_id", "n_tokens", "n_kept")
          .as[(Long, Long, Long)].collect().map(t => t._1 -> t).toMap
        val evalGrams = docs.indices.filter(_ % 2 == 1)
          .flatMap(i => docs(i).split(" ").toSeq.sliding(n).filter(_.size == n)
            .map(_.mkString(" "))).toSet
        docs.indices.filter(_ % 2 == 0).forall { i =>
          val ws = docs(i).split(" ").toSeq
          val covered = Array.fill(ws.size)(false)
          ws.sliding(n).zipWithIndex.foreach { case (g, p) =>
            if (g.size == n && evalGrams(g.mkString(" ")))
              (p until p + n).foreach(covered(_) = true)
          }
          got(i.toLong) ==
            ((i.toLong, ws.size.toLong, ws.indices.count(!covered(_)).toLong))
        }
      }
    }

  property("lshProbeIndex == brute-force band agreement across the split") =
    Prop.forAll(corpusGen) { docs =>
      import spark.implicits._
      docs.size < 2 || {
        val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val index = df.filter(col("doc_id") % 2 === 0)
        val batch = df.filter(col("doc_id") % 2 =!= 0)
        val got = graft.ext.TextDedup
          .lshProbeIndex(index, batch, "doc_id", "text")
          .as[(Long, Long, Option[Long])].collect().map(t => t._1 -> t).toMap
        // independent re-derivation of the signature/band grammar:
        // 16 md5-seeded min-hashes over distinct tokens, 4 bands keyed
        // by md5 of the band's sigs in seed order
        def md5hex(s: String): String =
          java.security.MessageDigest.getInstance("MD5")
            .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        def bandKeys(text: String): Set[(Int, String)] = {
          val ws = text.split(" ").distinct
          val sigs = (0 until 16).map(i => ws.map(w => md5hex(s"$i|$w")).min)
          (0 until 4).map(b => b -> md5hex(sigs.slice(b * 4, b * 4 + 4).mkString)).toSet
        }
        val idxKeys = docs.indices.filter(_ % 2 == 0)
          .map(i => i.toLong -> bandKeys(docs(i)))
        docs.indices.filter(_ % 2 == 1).forall { i =>
          val mine = bandKeys(docs(i))
          val cands = idxKeys.filter(k => (k._2 & mine).nonEmpty).map(_._1)
          got(i.toLong) == ((i.toLong, cands.size.toLong,
            if (cands.isEmpty) None else Some(cands.min)))
        }
      }
    }

  property("duplicateShingleFraction == brute-force document-frequency profile") =
    Prop.forAll(corpusGen) { docs =>
      import spark.implicits._
      val n = 2
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.ext.TextDedup
        .duplicateShingleFraction(df, "doc_id", "text", n)
        .select("doc_id", "n_shingles", "n_dup")
        .as[(Long, Long, Long)].collect().map(t => t._1 -> t).toMap
      // reference: per-doc DISTINCT n-grams; df = number of docs
      // containing the gram; dup = grams present in >= 2 docs
      val docGrams = docs.map(_.split(" ").toSeq
        .sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq.distinct)
      val freq = docGrams.flatten.groupBy(identity).view.mapValues(_.size).toMap
      docs.indices.forall { i =>
        val gs = docGrams(i)
        if (gs.isEmpty) !got.contains(i.toLong) // no shingles -> no row
        else got(i.toLong) ==
          ((i.toLong, gs.size.toLong, gs.count(freq(_) >= 2).toLong))
      }
    }

  // ---- semanticDedup vs brute-force keep-first scan ----------------------

  private val vecGen: Gen[List[(Long, Array[Float], Long)]] = for {
    n <- Gen.choose(1, 12)
    rows <- Gen.sequence[List[(Long, Array[Float], Long)], (Long, Array[Float], Long)](
      (0 until n).map { i =>
        for {
          x <- Gen.choose(-5, 5); y <- Gen.choose(-5, 5); z <- Gen.choose(-5, 5)
          if x != 0 || y != 0 || z != 0
          b <- Gen.choose(0L, 2L)
        } yield (i.toLong, Array(x.toFloat, y.toFloat, z.toFloat), b)
      })
  } yield rows

  property("semanticDedup == brute-force keep-first cosine scan per bucket") =
    Prop.forAll(vecGen) { rows =>
      import spark.implicits._
      val t = 0.95
      val df = rows.toDF("vec_id", "embedding", "label")
      val got = graft.ext.Similarity.semanticDedup(df, "label", t)
        .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        def dot(x: Array[Float], y: Array[Float]) =
          x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
        dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      }
      rows.forall { case (id, e, b) =>
        val dropped = rows.exists { case (id2, e2, b2) =>
          b2 == b && id2 < id && cos(e, e2) >= t
        }
        got(id) == !dropped
      }
    }

  property("lineDedup == brute-force corpus line-frequency scrub") =
    Prop.forAll(corpusGen, Gen.choose(1, 4), Gen.choose(1, 3)) {
      (docs, lineTokens, maxDf) =>
        import spark.implicits._
        val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val got = graft.ext.TextDedup
          .lineDedup(df, "doc_id", "text", lineTokens, maxDf)
          .as[(Long, Long, Long, String)]
          .collect().map(t => t._1 -> t).toMap
        def linesOf(t: String): Seq[String] =
          t.split(" ").grouped(lineTokens).map(_.mkString(" ")).toSeq
        val freq = docs.flatMap(linesOf).groupBy(identity).map { case (l, o) => l -> o.size }
        docs.indices.forall { i =>
          val ls = linesOf(docs(i))
          val kept = ls.filter(l => freq(l) <= maxDf)
          got(i.toLong) == ((i.toLong, ls.size.toLong, kept.size.toLong,
            md5hex(kept.mkString(" "))))
        }
    }

  property("triangleCount == brute-force triangle enumeration") =
    Prop.forAll(graphGen) { case (_, edges) =>
      import spark.implicits._
      val df =
        if (edges.isEmpty) Seq((0L, 1L)).toDF("src", "dst") // nonempty floor
        else edges.toDF("src", "dst")
      val canon = (if (edges.isEmpty) Seq((0L, 1L)) else edges)
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.distinct
      val vs = canon.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val es = canon.toSet
      val triangles = (for {
        a <- vs; b <- vs if a < b && es((a, b))
        c <- vs if b < c && es((b, c)) && es((a, c))
      } yield (a, b, c)).size.toLong
      val r = graft.ext.Graph.triangleCount(df)
        .as[(Long, Long, Long, Long)].head()
      r._1 == vs.size.toLong && r._2 == canon.size.toLong && r._4 == triangles
    }

  // ---- hard-negative mining vs brute filter over random labels ----------

  private val labeledVecsGen: Gen[List[(Long, Int, List[Float])]] = for {
    n <- Gen.choose(6, 20)
    dims <- Gen.const(4)
    vecs <- Gen.sequence[List[(Long, Int, List[Float])], (Long, Int, List[Float])](
      (0 until n).map { i =>
        for {
          label <- Gen.choose(0, 2)
          emb <- Gen.listOfN(dims, Gen.choose(-100, 100).map(_ / 10.0f))
          if emb.exists(_ != 0f) // zero vectors have undefined cosine
        } yield (i.toLong, label, emb)
      }.toList)
  } yield vecs

  property("hardNegativeTopK == brute-force filtered argsort on random labeled vectors") =
    Prop.forAll(labeledVecsGen) { vecs =>
      import spark.implicits._
      val labels = vecs.map(v => v._1 -> v._2).toMap
      val df = vecs.map { case (id, l, e) => (id, l, e.toArray) }
        .toDF("vec_id", "label", "embedding")
      val queries = df.filter($"vec_id" < 3)
      val got = graft.ext.Similarity.hardNegativeTopK(df, queries, 3).collect()
        .map(r => (r.getLong(r.fieldIndex("qid")), r.getInt(r.fieldIndex("rank")),
          r.getLong(r.fieldIndex("nid"))))
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        def dot(x: Seq[Float], y: Seq[Float]) =
          x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
        math.rint(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1e6) / 1e6
      }
      val byId = vecs.map(v => v._1 -> v._3).toMap
      val expect = vecs.filter(_._1 < 3).flatMap { case (q, ql, qe) =>
        vecs.filter(_._2 != ql)
          .map { case (n, _, ne) => (cos(qe, ne), n) }
          .sortBy { case (c, n) => (-c, n) }.take(3)
          .zipWithIndex.map { case ((_, n), i) => (q, i + 1, n) }
      }.toSet
      val gotSet = got.map { case (q, r, n) => (q, r, n) }.toSet
      // results never share the query's label, and match the reference
      got.forall { case (q, _, n) => labels(q) != labels(n) } && gotSet == expect
    }

  // ---- streaming sessionization: batch-split invariance ------------------

  // SessionTimerProcessor's contract: folding arrivals batch-by-batch over
  // ANY time-ordered split (each batch's earliest >= the previous batch's
  // latest), carrying the open tail through SessionMath.mergeOpen, must
  // equal one-shot sessionization of the whole sorted array — the pure
  // core of st20, checked without a streaming harness. Pure Scala: no
  // Spark jobs, so the default 100 cases run instantly.
  property("session batch-split invariance: incremental mergeOpen == one-shot sessionize") =
    Prop.forAll(
      for {
        n <- Gen.choose(1, 60)
        ms <- Gen.listOfN(n, Gen.choose(0L, 3000L))
        gap <- Gen.choose(1L, 400L)
        cuts <- Gen.listOf(Gen.choose(0, n))
      } yield (ms.sorted.toArray, gap, cuts.distinct.sorted)) {
      case (sorted, gap, cuts) =>
        import graft.streaming.{SessionAcc, SessionMath}
        val oneShot = SessionMath.sessionize(sorted, gap).toList
        // split at the (sorted) cut positions → time-ordered batches
        val bounds = (0 +: cuts.filter(c => c > 0 && c < sorted.length) :+ sorted.length).distinct
        val batches = bounds.sliding(2).map { case Seq(a, b) => sorted.slice(a, b) }
          .filter(_.nonEmpty).toList
        var openTail: Option[SessionAcc] = None
        val closed = scala.collection.mutable.ListBuffer.empty[SessionAcc]
        batches.foreach { b =>
          val sess = SessionMath.sessionize(b, gap)
          openTail.foreach(o => SessionMath.mergeOpen(sess, o, gap))
          closed ++= sess.init
          openTail = Some(sess.last)
        }
        val incremental = (closed ++ openTail).toList
        incremental == oneShot
    }

  // The split property above always inserts the carried tail at the FRONT
  // (time-ordered batches), so it never reaches mergeOpen's mid-array
  // insertion or bridging branches. This one does: the open session is an
  // explicit event cluster at an ARBITRARY position relative to the batch,
  // and mergeOpen must equal event-level sessionization of cluster ∪ batch
  // (sound because a valid session's internal gaps are < gap, so a point
  // within gap of the [start, last] interval is within gap of some member).
  property("mergeOpen == event-level sessionization for an arbitrary open session") =
    Prop.forAll(
      for {
        gap <- Gen.choose(10L, 300L)
        start <- Gen.choose(0L, 2000L)
        deltas <- Gen.listOf(Gen.choose(0L, gap - 1))
        cluster = deltas.scanLeft(start)(_ + _)
        batch <- Gen.listOf(Gen.choose(math.max(0L, start - 1000L), cluster.max + 1000L))
      } yield (gap, cluster, batch)) {
      case (gap, cluster, batch) =>
        import graft.streaming.{SessionAcc, SessionMath}
        val o = SessionAcc(cluster.head, cluster.last, cluster.size.toLong)
        val got = SessionMath.mergeOpen(
          SessionMath.sessionize(batch.sorted.toArray, gap), o, gap).toList
        val expect = SessionMath.sessionize((cluster ++ batch).sorted.toArray, gap).toList
        got == expect
    }
}
