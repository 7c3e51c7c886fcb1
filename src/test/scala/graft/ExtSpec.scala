package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Multimodal, Similarity, TextDedup}

class ExtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox leaps over the lazy dog"), // near dup (1 word)
    (3L, "completely different words about spark engines and parquet files"),
    (4L, "dog lazy the over jumps fox brown quick the") // reordered 0
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val g = TextDedup.exact(docs, "doc_id", "text")
    assert(g.count() == 4) // 0≡1, others distinct
    assert(g.filter($"n" === 2).select("keep_id").as[Long].head() == 0L)
  }

  test("fingerprint dedup also groups reordered token sets") {
    val g = TextDedup.fingerprint(docs, "doc_id", "text")
    assert(g.filter($"n" === 3).select("keep_id").as[Long].head() == 0L) // 0,1,4
  }

  test("minhash LSH finds exact and near dups as candidate pairs") {
    val pairs = TextDedup.lshCandidatePairs(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 4L)))
    assert(pairs.contains((0L, 2L)), "near-dup should share a band") // jaccard 7/9
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "distinct doc must not pair")
  }

  test("jaccard pairs compute exact overlap similarity") {
    val j = TextDedup.jaccardPairs(docs, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(j((0L, 1L)) == 1.0 && j((0L, 4L)) == 1.0)
    assert(j((0L, 2L)) == 0.777778) // 7 shared / 9 union, rounded to 6dp
    assert(!j.contains((0L, 3L)))
  }

  test("simhash: identical docs equal; near dups close; distinct docs far") {
    val sig = TextDedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sig(0L) == sig(1L) && sig(0L) == sig(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(0L), sig(2L)) < ham(sig(0L), sig(3L)))
    val pairs = TextDedup.simhashPairs(
      TextDedup.simhash(docs, "doc_id", "text"), 3).as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
  }

  test("line dedup drops corpus-repeated lines and rebuilds survivors in order") {
    // 9-token docs chunk into an 8-token line + a 1-token tail line.
    // docs 0/1 are exact dups → both their lines repeat → fully scrubbed;
    // 'dog' tails docs 0,1,2 → doc 2 keeps only its unique first line;
    // docs 3/4 are untouched (cleaned_md5 == md5(text)).
    val out = TextDedup.lineDedup(docs, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.map(r => (r._1, r._2, r._3)) == Seq(
      (0L, 2L, 0L), (1L, 2L, 0L), (2L, 2L, 1L), (3L, 2L, 2L), (4L, 2L, 2L)))
    assert(out(0)._4 == m(""))
    assert(out(2)._4 == m("the quick brown fox leaps over the lazy"))
    assert(out(3)._4 == m("completely different words about spark engines and parquet files"))
  }

  test("triangle count: K4 + disjoint edge, duplicates and reversals canonicalized") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // K4
      (2L, 1L), (3L, 1L),                                         // reversed dups
      (5L, 6L), (5L, 5L)                                          // path + self-loop
    ).toDF("src", "dst")
    val r = graft.ext.Graph.triangleCount(edges)
      .as[(Long, Long, Long, Long)].head()
    assert(r == ((6L, 7L, 4L, 4L)),
      "K4 has 4 triangles via 4 wedges; the 5-6 edge and self-loop add none")
  }

  test("AVI frame sampling decodes only strided frames, counts all") {
    val frames = (0 until 5).map(i => Multimodal.twoBandImage(16, 8, 10 * i, 100))
    val avi = Multimodal.aviOf(frames, 10, mjpeg = false)
    val s2 = Multimodal.sampleAviFrames(9L, avi, stride = 2)
    assert(s2.n_frames == 5 && s2.n_sampled == 3) // frames 0, 2, 4
    val expect = Seq(0, 2, 4).map(i => (10L * i + 100) * 8 * 8).sum
    assert(s2.sum_r == expect)
    val full = Multimodal.decodeAvi(9L, avi)
    val s1 = Multimodal.sampleAviFrames(9L, avi, stride = 1)
    assert(s1.sum_r == full.sum_r && s1.n_sampled == 5)
  }

  test("simhashPairs cardinality fence rejects corpus-scale input") {
    // the quadratic form's contract is bounded evaluation slices; past
    // the conf cap it must fail loudly, pointing at simhashBandPairs
    val key = "graft.dedup.simhashPairsMaxSigs"
    spark.conf.set(key, "3")
    try {
      val sigs = TextDedup.simhash(docs, "doc_id", "text") // 5 docs > cap 3
      val e = intercept[IllegalArgumentException] {
        TextDedup.simhashPairs(sigs, 3)
      }
      assert(e.getMessage.contains("simhashBandPairs"))
      // at-or-under the cap still evaluates
      spark.conf.set(key, "5")
      graft.ext.BoundedCache.clear()
      assert(TextDedup.simhashPairs(sigs, 63).count() == 10L) // C(5,2)
    } finally {
      spark.conf.unset(key)
      graft.ext.BoundedCache.clear()
    }
  }

  test("cosine top-k: nearest neighbor of a vector is its duplicate") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f), 0), (1L, Array(1f, 0.01f, 0f), 0),
      (2L, Array(0f, 1f, 0f), 0), (3L, Array(0f, 0f, 1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteTopK(vecs, vecs.filter($"vec_id" === 0L), 2)
      .orderBy($"rank").select("nid").as[Long].collect().toSeq
    assert(top == Seq(1L, 2L))
    val ivf = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" === 0L), "label", 3)
      .select("nid").as[Long].collect().toSet
    assert(ivf == Set(1L, 2L), "IVF must only search the query's bucket")
  }

  test("LSH buckets: co-directional vectors share a bucket, opposites do not") {
    // planes = vectors 0 and 1; 2 aligns with both (same signs as 0),
    // 3 is the negation of 2 (opposite signs) — must land elsewhere
    val vecs = Seq(
      (0L, Array(1f, 0f, 0.2f), 0), (1L, Array(0f, 1f, 0.2f), 0),
      (2L, Array(0.9f, 0.8f, 0.3f), 0), (3L, Array(-0.9f, -0.8f, -0.3f), 1)
    ).toDF("vec_id", "embedding", "label")
    val b = Similarity.lshAssign(vecs, 2).select("vec_id", "bucket")
      .as[(Long, Long)].collect().toMap
    assert(b(0L) == b(2L), s"aligned vectors must share a bucket: $b")
    assert(b(2L) != b(3L), "negated vector must hash elsewhere")
    val top = Similarity.lshTopK(vecs, col("vec_id") === 2L, numPlanes = 2, k = 3)
      .select("nid").as[Long].collect().toSet
    assert(top.contains(0L) && !top.contains(3L),
      "rerank searches only the query's bucket")
  }

  test("multimodal REAL PNG path: encode→decode roundtrip exact, nearest-neighbor resize keeps bands") {
    // lossless roundtrip: exact channel sums for a two-band image
    val png = Multimodal.twoBandPng(w = 12, h = 5, c1 = 10, c2 = 250)
    assert(png.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a), "real PNG magic")
    val f = Multimodal.decodeImage(7L, png)
    assert(f.width == 12 && f.height == 5)
    assert(f.sum_r == (10L + 250L) * 6 * 5 && f.sum_g == f.sum_r && f.sum_b == f.sum_r)
    // nearest-neighbor downscale of an aligned two-band image: bands survive
    val half = Multimodal.decodeImage(7L, Multimodal.resizePng(png, 6, 2))
    assert(half.width == 6 && half.height == 2)
    assert(half.sum_r == (10L + 250L) * 3 * 2)
    // asymmetric upscale is also exact for constant bands
    val up = Multimodal.decodeImage(7L, Multimodal.resizePng(png, 24, 5))
    assert(up.sum_r == (10L + 250L) * 12 * 5)
    // non-image payload fails loudly, not silently
    intercept[IllegalArgumentException] {
      Multimodal.decodeImage(1L, "not an image".getBytes)
    }
  }

  test("multimodal REAL WAV path: RIFF roundtrip exact; independent JDK decoder agrees") {
    val samples = Array.tabulate(500)(i => ((i * 13 + 5) % 2000 - 1000).toShort)
    val wav = Multimodal.pcmWav(samples, 8000)
    val f = Multimodal.decodeWav(3L, wav)
    assert(f == Multimodal.AudioFeatures(3L, 8000, 1, 16, 500L,
      samples.map(_.toLong).sum))
    // cross-check against javax.sound.sampled — an INDEPENDENT JDK RIFF
    // implementation must agree on the container metadata
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate == 8000f && fmt.getChannels == 1 &&
      fmt.getSampleSizeInBits == 16)
    assert(ais.getFrameLength == 500L)
    // chunk walk: an unknown LIST chunk between fmt and data is skipped
    val withList = {
      val b = java.nio.ByteBuffer.allocate(wav.length + 12)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(wav, 0, 36) // RIFF..WAVE + fmt chunk
      b.put("LIST".getBytes("US-ASCII")).putInt(4).put("INFO".getBytes("US-ASCII"))
      b.put(wav, 36, wav.length - 36) // data chunk
      b.array()
    }
    assert(Multimodal.decodeWav(3L, withList).sum_samples == f.sum_samples)
    // codec mismatch fails loudly, never emits zeros
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(1L, "junk-not-riff-data".getBytes)
    }
  }

  test("multimodal REAL AVI path: DIB loop exact; MJPEG loop decodes real JPEG frames") {
    val frames = (0 until 4).map(i =>
      Multimodal.twoBandImage(24, 10, 40 + i * 10, 160 - i * 5))
    // lossless DIB loop: exact closed-form channel sums
    val dib = Multimodal.decodeAvi(7L, Multimodal.aviOf(frames, 10, mjpeg = false))
    val expect = (0 until 4).map(i => ((40 + i * 10) + (160 - i * 5)).toLong * 12 * 10).sum
    assert(dib == Multimodal.VideoFeatures(7L, 24, 10, 4, expect, expect, expect))
    // MJPEG loop: REAL JDK JPEG encode/decode per frame — structure
    // exact, pixels within JPEG's loss band of the lossless truth
    val mj = Multimodal.decodeAvi(7L, Multimodal.aviOf(frames, 10, mjpeg = true))
    assert(mj.width == 24 && mj.height == 10 && mj.n_frames == 4)
    val px = 24 * 10 * 4
    assert(math.abs(mj.sum_r - expect).toDouble / px < 3.0,
      s"MJPEG mean per-pixel error too high: ${mj.sum_r} vs $expect")
    assert(mj.sum_r != 0, "MJPEG loop must decode real pixels")
    // codec mismatch fails loudly
    intercept[IllegalArgumentException] {
      Multimodal.decodeAvi(1L, "RIFFxxxxNOPE".getBytes("US-ASCII"))
    }
    // a corrupt MJPEG frame fails loudly, never silently skips
    val avi = Multimodal.aviOf(frames, 10, mjpeg = true)
    val broken = avi.clone()
    val moviAt = {
      // corrupt the first 00dc payload beyond its JFIF header
      val s = new String(avi.map(b => (b & 0xff).toChar))
      s.indexOf("00dc")
    }
    // zero from the SOI marker on — the JDK decoder scans forward past
    // garbage bytes, so only destroying the JPEG start defeats it
    java.util.Arrays.fill(broken, moviAt + 8, moviAt + 48, 0x00.toByte)
    // require(null-image) raises IllegalArgument; a partially-readable
    // corruption may surface as IIOException instead — loud either way
    intercept[Exception] {
      Multimodal.decodeAvi(2L, broken)
    }
  }

  test("multimodal: batchwise stub decode emits typed features") {
    val feats = Multimodal.extractFeatures(
      Multimodal.asMedia(docs, "doc_id", "text")).collect()
    assert(feats.length == 5)
    val f0 = feats.find(_.doc_id == 0L).get
    assert(f0.mime == "image/png" && f0.n_bytes == docs.head.getString(1).length)
    assert(f0.sha.length == 64 && f0.width == f0.n_bytes % 640 + 32)
  }

  test("multimodal resize: decimated payload, exact metadata arithmetic") {
    val rs = Multimodal.resize(
      Multimodal.asMedia(docs, "doc_id", "text"), 64, 64).collect()
    val r0 = rs.find(_.doc_id == 0L).get
    val src = docs.head.getString(1).getBytes
    assert(r0.n_bytes_in == src.length && r0.n_bytes_out == (src.length + 1) / 2)
    assert(r0.content.toSeq == src.indices.collect {
      case i if i % 2 == 0 => src(i) }.toSeq, "payload is every-2nd-byte decimation")
    assert(r0.dst_w == 64 && r0.scale_x > 0 && r0.scale_x <= 2.0)
  }

  test("multimodal edge rows: negative ids still mime-bucket, empty payloads emit no frames") {
    val edge = Seq((-5L, "abc"), (-1L, ""), (7L, "")).toDF("doc_id", "text")
    val media = Multimodal.asMedia(edge, "doc_id", "text").collect()
    // % keeps the dividend's sign, so -5 % 3 + 1 = -1 would have indexed
    // element_at from the array's END; pmod keeps the bucket in 1..3
    assert(media.find(_.doc_id == -5L).get.mime == "audio/wav") // pmod(-5,3)=1
    assert(media.find(_.doc_id == -1L).get.mime == "video/mp4") // pmod(-1,3)=2
    val frames = Multimodal.sampleFrames(
      Multimodal.asMedia(edge, "doc_id", "text")).collect()
    assert(frames.forall(_.doc_id == -5L), "empty payloads must yield zero frames")
    assert(frames.length == ("abc".length % 30) + 1)
  }

  test("degenerate embeddings: zero/NULL/empty score NULL cosine, never outrank real neighbors") {
    // one bad row must not kill a 100 TB scoring job (ANSI DIVIDE_BY_ZERO)
    // nor poison the ranking (a NaN would sort ABOVE every real double)
    val q = Seq((100L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0f, 0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteTopK(corpus, q, 3)
      .orderBy($"rank").select("nid", "cos").collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L),
      "real neighbors first; the zero vector only pads the tail")
    assert(top(2).isNullAt(1), "zero-norm cosine is NULL, not NaN/crash")

    val nullCorpus = Seq((1L, Array(1f, 0f)), (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array.empty[Float])).toDF("vec_id", "embedding")
    val nt = Similarity.bruteTopK(nullCorpus, q, 3)
      .orderBy($"rank").select("nid", "cos").collect()
    assert(nt.head.getLong(0) == 1L && !nt.head.isNullAt(1))
    assert(nt.drop(1).forall(_.isNullAt(1)), "NULL/empty embeddings score NULL")

    // a zero-norm QUERY matches nothing with defined similarity
    val zq = Seq((200L, Array(0f, 0f))).toDF("vec_id", "embedding")
    assert(Similarity.bruteTopK(corpus, zq, 3).collect().forall(_.isNullAt(2)))

    // dimension mismatch fails loudly with the named error (silent
    // prefix truncation would return a plausible-but-wrong score)
    val mismatch = Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0f, 5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] { Similarity.bruteTopK(mismatch, q, 3).collect() }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => c.getMessage != null && c.getMessage.contains("graft_dot: length mismatch")))
  }

  test("refineTopK: zero-norm/NULL candidates from a distance-based fetch score NULL, never crash or outrank") {
    // the quantized fetch scores by DISTANCE, so (unlike every cosine
    // retriever) a zero-norm vector is a legitimate candidate — the
    // exact re-rank divide must carry the same zero-norm guard
    val q = Seq((100L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 0f)), (4L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    val cand = Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L))
      .toDF("qid", "nid")
    val refined = Similarity.refineTopK(cand, corpus, q, 4)
      .orderBy($"rank").select("nid", "cos").collect()
    assert(refined.map(_.getLong(0)).take(2).toSeq == Seq(1L, 2L),
      "real candidates rank first")
    assert(refined.drop(2).forall(_.isNullAt(1)),
      "zero-norm and NULL candidates score NULL, not NaN/crash")
  }

  test("NULL-key rule: unassessable rows, no chimera merge, no fake dup verdicts") {
    val edge = Seq(
      (java.lang.Long.valueOf(0L), "the quick brown fox"),
      (java.lang.Long.valueOf(1L), "the quick brown fox"),
      (java.lang.Long.valueOf(2L), null.asInstanceOf[String]),
      (java.lang.Long.valueOf(4L), ""),
      (null.asInstanceOf[java.lang.Long], "orphan text all unique words"),
      (null.asInstanceOf[java.lang.Long], "second keyless doc entirely")
    ).toDF("doc_id", "text")

    // the regression this pins: the NULL-key join-back used to zero the
    // orphan's kept tokens — a UNIQUE doc reported as 100% duplicated
    val esdRows = TextDedup.exactSubstringDedup(edge, "doc_id", "text", 2).collect()
    val esd = esdRows.map(r => Option(r.get(0)) -> r).toMap
    val orphans = esdRows.filter(_.isNullAt(0))
    assert(orphans.map(_.getLong(1)).sorted.toSeq == Seq(4L, 5L)
      && orphans.forall(r => (2 until 6).forall(r.isNullAt)),
      s"each NULL-key doc is unassessable (size only), got ${orphans.toSeq}")
    val nullText = esd(Some(2L))
    assert((1 until 6).forall(nullText.isNullAt), s"NULL text fully unassessed: $nullText")
    val dup = esd(Some(0L))
    assert(dup.getLong(2) == 0 && dup.getDouble(3) == 1.0, "keyed dups still assessed")

    // lineDedup: NULL-key/NULL-text rows surface with NULL dedup columns
    val ld = TextDedup.lineDedup(edge, "doc_id", "text")
      .collect().map(r => Option(r.get(0)) -> r).toMap
    assert(ld(None).getLong(1) == 1 && ld(None).isNullAt(2) && ld(None).isNullAt(3))
    assert(ld(Some(2L)).isNullAt(1) && ld(Some(2L)).isNullAt(2))
    assert(ld(Some(4L)).getLong(1) == 1, "empty-text doc still assessed")

    // decontaminateSpans: same rule
    val evalDf = Seq((90L, "the quick brown fox")).toDF("doc_id", "text")
    val dsRows = TextDedup.decontaminateSpans(edge, evalDf, "doc_id", "text", 2).collect()
    assert(dsRows.filter(_.isNullAt(0)).forall(r => (2 until 5).forall(r.isNullAt)))
    val ds = dsRows.map(r => Option(r.get(0)) -> r).toMap
    assert(ds(Some(0L)).getLong(2) == 0, "keyed contaminated doc fully scrubbed")

    // per-doc profiles: no chimera row, unassessable keeps size only —
    // and BOTH keyless docs surface (not one merged row)
    val dsf = TextDedup.duplicateShingleFraction(edge, "doc_id", "text", 2).collect()
    val dsfNulls = dsf.filter(_.isNullAt(0))
    assert(dsfNulls.map(_.getLong(1)).sorted.toSeq == Seq(3L, 4L)
      && dsfNulls.forall(r => r.isNullAt(2) && r.isNullAt(3)))
    val cont = TextDedup.contamination(edge, evalDf, "doc_id", "text", 2).collect()
    assert(cont.filter(_.isNullAt(0)).forall(_.isNullAt(2)))

    // signatures: no chimera doc enters banding; keyless rows can't pair
    assert(TextDedup.minhashSignatures(edge, "doc_id", "text", 8)
      .collect().forall(!_.isNullAt(0)))
    assert(TextDedup.lshCandidatePairs(edge, "doc_id", "text")
      .collect().forall(r => !r.isNullAt(0) && !r.isNullAt(1)))

    // lmScore: keyless docs' tokens feed corpus frequencies (keyed docs'
    // scores reflect them) but the per-doc rollup surfaces them
    // unassessable instead of as one merged chimera row
    val lm = graft.ext.TextAnalysis.lmScore(edge, "doc_id", "text").collect()
    val lmNulls = lm.filter(_.isNullAt(0))
    assert(lmNulls.map(_.getLong(2)).sorted.toSeq == Seq(4L, 5L)
      && lmNulls.forall(_.isNullAt(1)), s"got ${lmNulls.toSeq}")
    assert(lm.filter(!_.isNullAt(0)).forall(r => !r.isNullAt(1) && r.getLong(2) > 0))

    // probe gate: keyless batch docs are unassessable, not "clean"
    val probe = TextDedup.lshProbeIndex(
      Seq((10L, "the quick brown fox")).toDF("doc_id", "text"), edge, "doc_id", "text")
      .collect().map(r => Option(r.get(0)) -> r).toMap
    assert(probe(Some(0L)).getLong(1) >= 1, "true dup still flagged")
    assert(probe(None).isNullAt(1) && probe(None).isNullAt(2))
  }

  test("CC variants agree on adversarial graphs: NULL vertices/edges, dangling endpoints, relays") {
    val verts = Seq(java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L),
      java.lang.Long.valueOf(3L), java.lang.Long.valueOf(5L),
      null.asInstanceOf[java.lang.Long]).toDF("id")
    val edges = Seq(
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L)),
      (java.lang.Long.valueOf(2L), java.lang.Long.valueOf(1L)), // reverse dup
      (java.lang.Long.valueOf(3L), java.lang.Long.valueOf(3L)), // self loop
      (java.lang.Long.valueOf(1L), null.asInstanceOf[java.lang.Long]), // NULL endpoint: drops
      (java.lang.Long.valueOf(2L), java.lang.Long.valueOf(99L)), // undeclared endpoint
      (java.lang.Long.valueOf(99L), java.lang.Long.valueOf(5L)) // ...relays 2—5 connectivity
    ).toDF("d1", "d2")
    // contract pinned for BOTH algorithms: one row per DECLARED vertex
    // (the min-label superstep used to MINT rows for undeclared
    // endpoints), NULL-endpoint edges drop (the NULL vertex used to
    // absorb its neighbor's label through min()'s null-skip), undeclared
    // endpoints relay connectivity but never surface
    val expected = Set[(Option[Long], Option[Long])](
      (Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(3L), Some(3L)),
      (Some(5L), Some(1L)), (None, None))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(rows(TextDedup.connectedComponents(verts, edges)) == expected)
    assert(rows(TextDedup.connectedComponentsStar(verts, edges)) == expected)
  }

  test("pageRank/labelPropagation: NULL-endpoint edges and NULL seeds drop, results match the clean graph") {
    import graft.ext.Graph
    // pinned regression: one NULL-endpoint edge used to mint a NULL rank
    // sink and distort every real rank (chain center 0.58 -> 0.28), and
    // a NULL seed label PROPAGATED as real nodes' modal label while the
    // NULL-node seed re-adopted every round (duplicate output rows)
    val dirtyE = Seq(
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L)),
      (java.lang.Long.valueOf(2L), java.lang.Long.valueOf(3L)),
      (java.lang.Long.valueOf(1L), null.asInstanceOf[java.lang.Long])
    ).toDF("src", "dst")
    val cleanE = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      Graph.pageRank(df, 3).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks(dirtyE) == ranks(cleanE))

    val dirtySeeds = Seq(
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(7L)),
      (java.lang.Long.valueOf(2L), null.asInstanceOf[java.lang.Long]),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(9L))
    ).toDF("node", "label")
    val cleanSeeds = Seq((1L, 7L)).toDF("node", "label")
    def labels(e: org.apache.spark.sql.DataFrame, s: org.apache.spark.sql.DataFrame) =
      Graph.labelPropagation(e, s, 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(labels(dirtyE, dirtySeeds) == labels(cleanE, cleanSeeds))
    assert(labels(cleanE, cleanSeeds) == Seq((1L, 7L), (2L, 7L), (3L, 7L)))
  }

  test("assignToCentroids: NULL embedding is unassignable, wrong dimension fails loudly") {
    val cents = Similarity.centroids(
      Seq((1L, Array(1f, 0f), 0), (2L, Array(0f, 1f), 1)).toDF("vec_id", "embedding", "label"),
      "label")
    val out = Similarity.assignToCentroids(
      Seq((10L, Array(1f, 0.1f)), (11L, null.asInstanceOf[Array[Float]]))
        .toDF("vec_id", "embedding"), cents, "label")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(10L).getInt(2) == 0, "scoreable vector lands in its bucket")
    assert(out(11L).isNullAt(2),
      "NULL embedding must be unassignable, not tiebroken into bucket 0")
    val e = intercept[Exception] {
      Similarity.assignToCentroids(
        Seq((12L, Array.empty[Float])).toDF("vec_id", "embedding"), cents, "label").collect()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => c.getMessage != null && c.getMessage.contains("graft_dot: length mismatch")))
  }

  test("bpeEncode: ranked merges compose, never cross words, degenerate docs behave") {
    import graft.ext.TextAnalysis
    val out = Seq((1L, "the cat and then"), (2L, "  "), (3L, "123 !?"),
        (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select(col("id"), trim(TextAnalysis.bpeEncode(col("text"))).as("enc"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    // 'the' needs t+h THEN th+e (rank order composes); 'cat' takes a+t;
    // 'and' needs a+n then an+d; 'then' consumes its e in th+e so e+n
    // cannot fire; the double-space word gaps ('e  c', 'd  t') never
    // merge across words
    assert(out(1L) == "the  c at  and  the n", s"got '${out(1L)}'")
    assert(out(2L) == "" && out(3L) == "", "letter-free docs encode to empty")
    assert(out(4L) == null, "NULL text stays NULL (unassessable, family rule)")
  }

  test("bpeTrain: learns the ranked merges and feeds bpeEncode (r16 verdict #2)") {
    import graft.ext.TextAnalysis
    val docs = Seq((1L, "the theme then"), (2L, "that, the!"), (3L, "in inn thin"))
      .toDF("doc_id", "text")
    // hand-derived: freq = {the:2, theme:1, then:1, that:1, in:1, inn:1,
    // thin:1}; round 1 pair counts: (t,h)=6 > (h,e)=4 > (i,n)=3 > rest;
    // round 2 composes round 1's symbol: (th,e)=4; round 3: (i,n)=3
    val merges = TextAnalysis.bpeTrain(docs, "text", rounds = 3)
    assert(merges == Seq(("t", "h", 6L), ("th", "e", 4L), ("i", "n", 3L)),
      s"got $merges")
    // the learned vocabulary feeds bpeEncode directly and reproduces the
    // literal merge-chain encoding (rank order applied, merges composing,
    // never crossing word gaps)
    val enc = docs
      .select(col("doc_id"),
        trim(TextAnalysis.bpeEncode(col("text"),
          merges.map { case (a, b, _) => (a, b) })).as("e"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(enc(1L) == "the  the m e  the n", s"got '${enc(1L)}'")
    assert(enc(2L) == "th a t  the", s"got '${enc(2L)}'")
    assert(enc(3L) == "in  in n  th in", s"got '${enc(3L)}'")
    // vocabulary exhaustion: a corpus whose words fully merge before
    // `rounds` rounds returns the merges that exist (the oracle's
    // per-round LIMIT 1 over an empty pair table degrades the same way)
    // instead of crashing on the empty top-pair collect
    val tiny = Seq((1L, "ab ab!")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeTrain(tiny, "text", rounds = 5)
      == Seq(("a", "b", 2L)))
  }

  test("quantizerDrift / retrainEval: NULL embeddings excluded from counts and means (family rule)") {
    // two clean buckets + one NULL-embedding row on EACH side: the metric
    // must be identical with or without the degenerate rows — a NULL
    // embedding is unassessable, never tiebroken into a bucket (the
    // servingAssign window's (score desc, pb) order would otherwise hand
    // it bucket 0) and never a silent dent in n/mean
    val corpus = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0f, 1f), 1), (4L, Array(0.1f, 0.9f), 1)).toDF("vec_id", "embedding", "label")
    val dirtyCorpus = corpus.unionByName(
      Seq((99L, null.asInstanceOf[Array[Float]], 0)).toDF("vec_id", "embedding", "label"))
    val batch = Seq((10L, Array(1f, 0.2f)), (11L, Array(0.2f, 1f))).toDF("vec_id", "embedding")
    val dirtyBatch = batch.unionByName(
      Seq((98L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val cents = Similarity.centroids(corpus, "label")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("label")).collect().map(_.toSeq).toSeq
    assert(rows(Similarity.quantizerDrift(dirtyCorpus, dirtyBatch, cents, "label", 1.1))
      == rows(Similarity.quantizerDrift(corpus, batch, cents, "label", 1.1)))
    val oldCents = Similarity.centroids(corpus.filter(col("vec_id") =!= 2L), "label")
    assert(rows(Similarity.retrainEval(dirtyBatch, oldCents, cents, "label"))
      == rows(Similarity.retrainEval(batch, oldCents, cents, "label")))
    // sanity on the clean numbers: every batch vector lands in its bucket
    val drift = Similarity.quantizerDrift(corpus, batch, cents, "label", 1.1)
      .orderBy(col("label")).collect()
    assert(drift.map(_.getLong(1)).toSeq == Seq(2L, 2L)) // n_train per bucket
    assert(drift.map(_.getLong(3)).toSeq == Seq(1L, 1L)) // n_cur per bucket
  }

  test("quantizerDrift degenerate buckets: zero-base flags retrain; no-training-population surfaces (r15 verdict #8 / advice)") {
    // stored quantizer with three buckets; the corpus can assess only two:
    //   bucket 0 — one training vector AT its centroid (base_dist = 0);
    //   bucket 1 — normal training mass (base_dist > 0), no arrivals;
    //   bucket 2 — its only training embedding is NULL, so it has NO
    //     assessable training population (base row absent entirely).
    val cents = Seq((0, 1, 1.0), (0, 2, 0.0), (1, 1, 0.0), (1, 2, 1.0),
        (2, 1, -1.0), (2, 2, 0.0)).toDF("label", "i", "mean")
    val corpus = Seq(
      (1L, Array(1f, 0f), 0),
      (2L, Array(0f, 1f), 1), (3L, Array(0f, 0.6f), 1),
      (4L, null.asInstanceOf[Array[Float]], 2)).toDF("vec_id", "embedding", "label")
    // arrivals: one lands in zero-base bucket 0, one in unassessable
    // bucket 2 (its centroid (-1,0) wins the serving argmax); bucket 1
    // receives nothing
    val batch = Seq((10L, Array(1f, 0.1f)), (11L, Array(-1f, 0.05f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizerDrift(corpus, batch, cents, "label", 1.1)
      .orderBy(col("label")).collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(0, 1, 2),
      "the no-training-population bucket must SURFACE (full outer), not drop")
    val b0 = out(0); val b1 = out(1); val b2 = out(2)
    // bucket 0: base_dist = 0 → ratio undefined, but current mass exists →
    // the coalesce's middle arm (cur_dist > 0) must flag retrain
    assert(b0.getLong(1) == 1 && b0.getDouble(2) == 0.0 && b0.getLong(3) == 1)
    assert(b0.isNullAt(5) && b0.getBoolean(6),
      "zero-base bucket with current mass must flag retrain (NULL ratio)")
    // bucket 1: unprobed → retrain false, NULL cur_dist
    assert(b1.getLong(3) == 0 && b1.isNullAt(4) && !b1.getBoolean(6))
    // bucket 2: n_train 0, NULL base_dist, arrivals present → retrain
    assert(b2.getLong(1) == 0 && b2.isNullAt(2) && b2.getLong(3) == 1)
    assert(b2.isNullAt(5) && b2.getBoolean(6),
      "a stored bucket with no assessable training population but current " +
        "arrivals is exactly the staleness signal the monitor exists for")
  }

  test("approx_count_distinct within 5% of exact; centroid assignment recovers buckets") {
    val ev = graft.schemas.Tables.events(spark, TestSpark.sf0001)
    val (approx, exact) = ev.select(
      approx_count_distinct("user_id"), countDistinct("user_id"))
      .as[(Long, Long)].head()
    assert(math.abs(approx - exact).toDouble / exact <= 0.05, s"approx=$approx exact=$exact")

    // clearly separated clusters: assignment must recover the bucket
    val vecs = Seq(
      (0L, Array(10f, 0f), 0), (1L, Array(11f, 1f), 0),
      (2L, Array(0f, 10f), 1), (3L, Array(1f, 11f), 1)
    ).toDF("vec_id", "embedding", "label")
    val cents = graft.ext.Similarity.centroids(vecs, "label")
    assert(cents.count() == 4) // 2 buckets x 2 dims
    val assigned = graft.ext.Similarity.assignToCentroids(vecs, cents, "label")
      .select("vec_id", "assigned").as[(Long, Int)].collect().toMap
    assert(assigned == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1))
  }

  test("n-gram shingles and kmeansFit recover structure") {
    val sh = docs.select($"doc_id", graft.ext.TextDedup.shingles($"text", 3).as("s"))
      .filter($"doc_id" === 0L).select(explode($"s")).as[String].collect().toSeq
    assert(sh.contains("the quick brown") && sh.contains("quick brown fox"))
    assert(sh.forall(_.split(" ").length == 3))

    val vecs = Seq(
      (0L, Array(10f, 0f)), (1L, Array(11f, 1f)), (2L, Array(12f, 0.5f)),
      (3L, Array(0f, 10f)), (4L, Array(1f, 11f)), (5L, Array(0.5f, 12f))
    ).toDF("vec_id", "embedding")
    val (assigned, cents) = graft.ext.Similarity.kmeansFit(vecs, k = 2, iterations = 3)
    val byBucket = assigned.select("vec_id", "bucket").as[(Long, Int)].collect()
      .groupBy(_._2).map { case (_, g) => g.map(_._1).toSet }.toSet
    assert(byBucket == Set(Set(0L, 1L, 2L), Set(3L, 4L, 5L)),
      s"clusters must separate the two groups: $byBucket")
    assert(cents.count() == 4) // 2 buckets x 2 dims
  }

  test("connected components cluster near-dup pairs with canonical min id") {
    // graph: 1-2, 2-3 chained (one component {1,2,3}), 5-6 (component {5,6}),
    // 9 isolated — a chain forces >1 label-propagation superstep
    val vertices = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("d1", "d2")
    val labels = graft.ext.TextDedup.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("connected components on a long chain (diameter > supersteps heuristic)") {
    val n = 12
    val vertices = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = graft.ext.TextDedup.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(labels.values.toSet == Set(0L), s"chain must collapse to one cluster: $labels")
  }

  test("Misra-Gries candidates keep every token above the N/(capacity+1) bound") {
    // skewed stream: token t_i appears 2^(8-i) times, plus 200 singletons;
    // tiny capacity forces heavy decrement churn across 8 partitions
    val rows = (0 to 8).flatMap(i => Seq.fill(1 << (8 - i))(s"t_$i")) ++
      (0 until 200).map(i => s"rare_$i")
    val toks = spark.createDataset(scala.util.Random.shuffle(rows.toList))
      .repartition(8).toDF("w")
    val capacity = 16
    val n = rows.size
    val cands = graft.ext.TextAnalysis.heavyHitterCandidates(toks, capacity)
      .as[String].collect().toSet
    val exact = rows.groupBy(identity).view.mapValues(_.size)
    val mustSurvive = exact.filter(_._2 > n / (capacity + 1)).keys.toSet
    assert(mustSurvive.nonEmpty, "fixture must exercise the guarantee")
    assert(mustSurvive.subsetOf(cands),
      s"missing guaranteed heavy hitters: ${mustSurvive.diff(cands)}")
    assert(cands.size <= capacity * 8, "candidate union bounded by capacity x partitions")
  }

  test("contamination flags train docs sharing eval n-grams") {
    val train = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"), // contains eval 3-gram
      (1L, "one two three four five six seven"),   // clean
      (2L, "beta gamma delta other words here")    // shares "beta gamma delta"
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "xx beta gamma delta yy zz")).toDF("doc_id", "text")
    val r = TextDedup.contamination(train, eval, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Boolean)].collect().map(t => t._1 -> t).toMap
    assert(r(0L) == ((0L, 4L, 1L, true)))  // 4 shingles, 1 overlapping
    assert(r(1L) == ((1L, 5L, 0L, false)))
    assert(r(2L) == ((2L, 4L, 1L, true)))
  }

  test("contamination drops docs shorter than n tokens") {
    val train = Seq((0L, "too short")).toDF("doc_id", "text")
    val eval = Seq((1L, "a b c d")).toDF("doc_id", "text")
    assert(TextDedup.contamination(train, eval, "doc_id", "text", n = 3).count() == 0)
  }

  test("pageRank: symmetric vertices tie, hubs outrank leaves, mass conserved") {
    // star a-b, a-c, a-d plus isolated pair e-f
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("e", "f"))
      .toDF("src", "dst")
    val r = graft.ext.Graph.pageRank(edges, iters = 10)
      .as[(String, Double)].collect().toMap
    assert(r.size == 6)
    assert(r("b") == r("c") && r("c") == r("d"), "symmetric leaves must tie")
    assert(r("e") == r("f"), "symmetric pair must tie")
    assert(r("a") > r("b"), "hub outranks leaves")
    assert(math.abs(r.values.sum - 1.0) < 1e-6, "rank mass conserved")
  }

  test("pageRank on an empty edge set returns an empty rank table") {
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    assert(graft.ext.Graph.pageRank(empty, iters = 3).count() == 0)
  }

  test("recallAtK covers zero-hit queries and exact hits") {
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("qid", "nid")
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 99L), (2L, 98L))
      .toDF("qid", "nid")
    val r = graft.ext.Similarity.recallAtK(truth, approx, k = 2)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(r(1L) == ((1L, 2L, 1.0)))
    assert(r(2L) == ((2L, 0L, 0.0)))
  }

  test("duplicateShingleFraction measures cross-doc boilerplate share") {
    val corpus = Seq(
      (0L, "shared boiler plate text unique zero"),
      (1L, "shared boiler plate text unique onex"),
      (2L, "totally different content in this doc")
    ).toDF("doc_id", "text")
    val r = TextDedup.duplicateShingleFraction(corpus, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    // docs 0/1 share "shared boiler plate", "boiler plate text",
    // "plate text unique" — 3 of each doc's 4 shingles
    assert(r(0L) == ((0L, 4L, 3L, 0.75)))
    assert(r(1L) == ((1L, 4L, 3L, 0.75)))
    assert(r(2L) == ((2L, 4L, 0L, 0.0)))
  }

  test("exactSubstringDedup removes duplicated spans, keeps unique tokens in order") {
    // docs 0/1 share the 6-token prefix "a b c d e f": its 5-gram starts
    // (pos 0 and 1) cover positions 0..5 in both docs; the distinct tails
    // survive in order. doc 2 has no corpus-duplicate 5-gram.
    val corpus = Seq(
      (0L, "a b c d e f tail zero stays here"),
      (1L, "a b c d e f other ending words kept"),
      (2L, "entirely different document with unique words")
    ).toDF("doc_id", "text")
    val r = TextDedup.exactSubstringDedup(corpus, "doc_id", "text", n = 5)
      .drop("over_length")
      .as[(Long, Long, Long, Double, String)].collect()
      .map(t => t._1 -> t).toMap
    assert(r(0L)._2 == 10L && r(0L)._3 == 4L && r(0L)._4 == 0.6)
    assert(r(1L)._3 == 4L)
    assert(r(2L) == ((2L, 6L, 6L, 0.0,
      TestSpark.spark.range(1).select(md5(lit("entirely different document with unique words")))
        .as[String].head())))
    // order preserved: cleaned doc 0 is exactly the tail
    assert(r(0L)._5 == TestSpark.spark.range(1)
      .select(md5(lit("tail zero stays here"))).as[String].head())
    // a fully-duplicated doc cleans to the empty string
    val dup = Seq((0L, "x y z w v"), (1L, "x y z w v")).toDF("doc_id", "text")
    val d = TextDedup.exactSubstringDedup(dup, "doc_id", "text", n = 5)
      .drop("over_length")
      .as[(Long, Long, Long, Double, String)].collect().map(t => t._1 -> t).toMap
    assert(d(0L)._3 == 0L && d(0L)._4 == 1.0)
  }

  test("over_length gate: flagged doc is an identity pass-through; neighbors match the ungated run") {
    import org.apache.spark.sql.functions.{lit, md5}
    // 22 tokens — past the 10-token override; shares the hot prefix so its
    // grams DO feed corpus counts (that's the contract: only its own
    // rebuild is skipped)
    val longText = (1 to 16).map(i => s"pad$i").mkString(" ") + " a b c d e f"
    val corpus = Seq(
      (0L, "a b c d e f tail zero stays here"),
      (1L, "a b c d e f other ending words kept"),
      (2L, "entirely different document with unique words"),
      (9L, longText)
    ).toDF("doc_id", "text")
    val gated = TextDedup.exactSubstringDedup(corpus, "doc_id", "text", n = 5,
      maxTokens = 10)
    val byId = gated.collect().map(r => r.getLong(0) -> r).toMap
    val f = byId(9L)
    assert(f.getBoolean(f.fieldIndex("over_length")))
    assert(f.getLong(f.fieldIndex("n_tokens")) == 22L)
    assert(f.getLong(f.fieldIndex("n_kept")) == 22L,
      "a flagged doc must pass through with nothing removed")
    assert(f.isNullAt(f.fieldIndex("dup_frac")), "dup_frac is unassessed, not 0")
    assert(f.getString(f.fieldIndex("cleaned_md5")) ==
      TestSpark.spark.range(1).select(md5(lit(longText))).as[String].head(),
      "the 'cleaned' fingerprint of a flagged doc is the original text's")
    // neighbor invariance: every in-scope doc's row is byte-identical to
    // the ungated run's (the gate changes the flagged doc only)
    val ungatedNeighbors = TextDedup
      .exactSubstringDedup(corpus, "doc_id", "text", n = 5)
      .filter($"doc_id" =!= 9L).orderBy("doc_id").collect().toSeq
    val gatedNeighbors = gated.filter($"doc_id" =!= 9L).orderBy("doc_id")
      .collect().toSeq
    assert(gatedNeighbors == ungatedNeighbors)
  }

  test("over_length gate (decontaminateSpans): flagged doc pass-through; neighbors blind to its presence") {
    import org.apache.spark.sql.functions.{lit, md5}
    // the long doc CONTAINS the leaked eval span — the gate must still
    // pass it through unedited (flagged), and because its grams matter to
    // nobody else, dropping it from train entirely must not move any
    // other row
    val longText = (1 to 16).map(i => s"pad$i").mkString(" ") +
      " one two three four five"
    val train = Seq(
      (0L, "keep one two three four five tail stays here"),
      (1L, "entirely clean training document with original words"),
      (9L, longText)
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "one two three four five")).toDF("doc_id", "text")
    val gated = TextDedup.decontaminateSpans(train, eval, "doc_id", "text",
      n = 5, maxTokens = 10)
    val byId = gated.collect().map(r => r.getLong(0) -> r).toMap
    val f = byId(9L)
    assert(f.getBoolean(f.fieldIndex("over_length")))
    assert(f.getLong(f.fieldIndex("n_kept")) == f.getLong(f.fieldIndex("n_tokens")),
      "a flagged doc keeps every token even though it holds an eval span")
    assert(f.getString(f.fieldIndex("cleaned_md5")) ==
      TestSpark.spark.range(1).select(md5(lit(longText))).as[String].head())
    val without = TextDedup.decontaminateSpans(
        train.filter($"doc_id" =!= 9L), eval, "doc_id", "text",
        n = 5, maxTokens = 10)
      .orderBy("doc_id").collect().toSeq
    assert(gated.filter($"doc_id" =!= 9L).orderBy("doc_id").collect().toSeq
      == without)
  }

  test("native SimHash64 expression == the independent SQL fold form") {
    // the HOF fold re-derives the same bit grammar through Spark's md5 /
    // conv / shift builtins — an independent evaluation path pinning the
    // compiled expression's digest-bit indexing and majority rule
    val corpus = docs.unionByName(Seq((9L, "a"), (10L, "x y z zz")).toDF("doc_id", "text"))
    val fold = corpus.select($"doc_id", expr(
      """aggregate(
        |  transform(array_distinct(split(text, ' ')), w -> substring(md5(w), 1, 16)),
        |  array_repeat(CAST(0 AS BIGINT), 63),
        |  (acc, h) -> zip_with(acc,
        |    transform(sequence(0, 62), b -> CAST(
        |      shiftright(CAST(conv(substring(h, CAST(b div 4 AS INT) + 1, 1), 16, 10) AS BIGINT),
        |                 CAST(3 - b % 4 AS INT)) & 1 AS BIGINT)),
        |    (a, bit) -> a + bit),
        |  cnt -> aggregate(sequence(0, 62), CAST(0 AS BIGINT),
        |    (acc, b) -> acc + CASE WHEN 2 * element_at(cnt, b + 1) >= size(array_distinct(split(text, ' ')))
        |      THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END))""".stripMargin)
      .as("simhash")).as[(Long, Long)].collect().toMap
    val native = TextDedup.simhash(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(native == fold)
  }

  test("gram salt bucket count never changes dedup results (conf invariance)") {
    val corpus = Seq(
      (0L, "one two three four five six one two three four five six"),
      (1L, "one two three four five six and unrelated tail content"),
      (2L, "fully distinct words without any repeated gram runs at all")
    ).toDF("doc_id", "text")
    def run() = (
      TextDedup.exactSubstringDedup(corpus, "doc_id", "text", n = 5)
        .orderBy("doc_id").collect().toSeq,
      TextDedup.duplicateShingleFraction(corpus, "doc_id", "text", n = 3)
        .orderBy("doc_id").collect().toSeq)
    val dflt = run()
    TestSpark.spark.conf.set(TextDedup.GramSaltBucketsKey, "1")
    try assert(run() == dflt, "salt count is a layout dial, not a semantic one")
    finally TestSpark.spark.conf.unset(TextDedup.GramSaltBucketsKey)
    TestSpark.spark.conf.set(TextDedup.GramSaltBucketsKey, "64")
    try assert(run() == dflt)
    finally TestSpark.spark.conf.unset(TextDedup.GramSaltBucketsKey)
  }

  test("crossSplitNearDups flags the edited copy, spares the merely-same-vocab doc") {
    // train doc 0 = near-copy of test doc 100 (one word edited); train
    // doc 1 reuses the same small vocabulary but in a different order —
    // unigram signatures would confuse them, bigram ones must not
    val train = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "kappa iota theta eta zeta epsilon delta gamma beta alpha")
    ).toDF("doc_id", "text")
    val test_ = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota lambda")
    ).toDF("doc_id", "text")
    graft.ext.BoundedCache.clear()
    val flagged = TextDedup.crossSplitNearDups(train, test_, "doc_id", "text")
      .as[Long].collect().toSeq
    assert(flagged == Seq(0L),
      s"only the edited copy may be dropped, got $flagged")
    // repartitioning must not change the decision (the split is shipped)
    graft.ext.BoundedCache.clear()
    val flagged7 = TextDedup.crossSplitNearDups(
      train.repartition(7), test_.repartition(3), "doc_id", "text")
      .as[Long].collect().toSeq
    assert(flagged7 == Seq(0L))
  }

  test("decontaminateSpans removes eval-overlapping spans, keeps clean text intact") {
    import org.apache.spark.sql.functions.md5
    val train = Seq(
      (0L, "keep one two three four five tail stays here"), // span 1..5 leaks
      (1L, "entirely clean training document with original words")
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "one two three four five")).toDF("doc_id", "text")
    val r = TextDedup.decontaminateSpans(train, eval, "doc_id", "text", n = 5)
      .drop("over_length")
      .as[(Long, Long, Long, String)].collect().map(t => t._1 -> t).toMap
    // doc 0: 9 tokens, the 5 leaked ones removed, survivors in order
    assert(r(0L)._2 == 9L && r(0L)._3 == 4L)
    assert(r(0L)._4 == TestSpark.spark.range(1)
      .select(md5(lit("keep tail stays here"))).as[String].head())
    // doc 1 untouched
    assert(r(1L)._3 == 7L)
  }

  test("lshProbeIndex flags new docs against the index, leaves clean docs unmatched") {
    val index = docs.filter($"doc_id".isin(0L, 3L))
    val batch = docs.filter($"doc_id".isin(1L, 4L)) // 1 = exact dup of 0; 4 = reordered 0
    val r = TextDedup.lshProbeIndex(index, batch, "doc_id", "text")
      .as[(Long, Long, Option[Long])].collect().map(t => t._1 -> t).toMap
    assert(r.keySet == Set(1L, 4L), "one row per batch doc")
    assert(r(1L)._2 >= 1 && r(1L)._3.contains(0L))
    // signatures are functions of the distinct token SET: reorder-invariant
    assert(r(4L)._2 >= 1 && r(4L)._3.contains(0L))
    // a clean batch: doc 3's text shares no tokens with doc 0
    val clean = TextDedup.lshProbeIndex(docs.filter($"doc_id" === 0L),
        docs.filter($"doc_id" === 3L), "doc_id", "text")
      .as[(Long, Long, Option[Long])].collect()
    assert(clean.toSeq == Seq((3L, 0L, None)))
  }

  test("connectedComponentsStar collapses a deep chain (the adversarial case for min-label)") {
    // a 200-hop path: min-label propagation needs one superstep per hop;
    // the star alternation converges in O(log^2 n) rounds
    val n = 200L
    val vertices = (0L until n).toDF("id")
    val chain = (1L until n).map(i => (i - 1, i)).toDF("d1", "d2")
    val labels = TextDedup.connectedComponentsStar(vertices, chain)
      .as[(Long, Long)].collect()
    assert(labels.length == n && labels.forall(_._2 == 0L))
  }

  test("simhashBandPairs bucket cap skips degenerate constant-band buckets") {
    // 12 identical signatures: every (band, bits) bucket holds all 12 docs
    val sigs = (0L until 12L).map(i => (i, 0L)).toDF("doc_id", "simhash")
    // uncapped: all 66 zero-Hamming pairs surface
    assert(TextDedup.simhashBandPairs(sigs, maxHamming = 12,
      maxBucketSize = 1024).count() == 66)
    // cap below the bucket size: every band bucket is degenerate and
    // skipped — the documented recall trade, zero candidates
    assert(TextDedup.simhashBandPairs(sigs, maxHamming = 12,
      maxBucketSize = 8).count() == 0)
    // mixed corpus: a pair OUTSIDE the mega-bucket still surfaces while
    // the degenerate bucket's pairs are pruned (the cap is per bucket,
    // not global). Docs 100/101 share bits 61+62 — so in band 12
    // (bits 58..62) they isolate in their own 2-doc bucket and survive,
    // while every bucket containing the 12 zero-signature docs is capped.
    val sig = (1L << 62) | (1L << 61)
    val mixed = sigs.unionByName(
      Seq((100L, sig), (101L, sig)).toDF("doc_id", "simhash"))
    val rows = TextDedup.simhashBandPairs(mixed, maxHamming = 12,
      maxBucketSize = 8).as[(Long, Long, Int)].collect().toSet
    assert(rows == Set((100L, 101L, 0)))
  }

  test("graft_simhash input contract: type check, null elements, empty array") {
    // non-ARRAY<STRING> argument → analysis-time error, not a runtime CCE
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      TestSpark.spark.sql("SELECT graft_simhash(array(1, 2))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_simhash"))
    // null elements cast no vote: [a, NULL] signs identically to [a]
    val r = TestSpark.spark.sql(
      """SELECT graft_simhash(array('a', CAST(NULL AS STRING))) AS withNull,
        |       graft_simhash(array('a')) AS plain,
        |       graft_simhash(array(CAST(NULL AS STRING))) AS allNull,
        |       graft_simhash(CAST(array() AS ARRAY<STRING>)) AS empty,
        |       graft_simhash(CAST(NULL AS ARRAY<STRING>)) AS nullArr""".stripMargin)
      .head()
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getLong(2) == 0L, "no non-null voters must sign as 0")
    assert(r.getLong(3) == 0L, "empty array must sign as 0, not all-bits-set")
    assert(r.isNullAt(4), "null input stays null (nullSafeEval)")
  }

  test("semanticDedup keeps the first of a near-identical pair, different buckets never compare") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0L),
      (1L, Array(0.99f, 0.01f, 0.0f), 0L),  // near-dup of 0, same bucket → dropped
      (2L, Array(0.0f, 1.0f, 0.0f), 0L),    // orthogonal, kept
      (3L, Array(1.0f, 0.0f, 0.0f), 1L)     // identical to 0 but other bucket → kept
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.semanticDedup(vecs, "label", 0.95)
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> t._3).toMap
    assert(r == Map(0L -> true, 1L -> false, 2L -> true, 3L -> true))
  }

  test("semanticDedupStored serves from the trained quantizer and agrees with the label path") {
    // well-separated clusters: the stored per-label centroids assign
    // every vector back to its own label bucket, so the stored-quantizer
    // path and the given-assignment path must produce identical dedup
    // decisions — the dedup and IVF-ANN sides of one trained quantizer
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0L),
      (1L, Array(0.99f, 0.01f, 0.0f), 0L),  // near-dup of 0 -> dropped
      (2L, Array(0.0f, 1.0f, 0.0f), 1L),
      (3L, Array(0.01f, 0.99f, 0.0f), 1L)   // near-dup of 2 -> dropped
    ).toDF("vec_id", "embedding", "label")
    val cents = Similarity.centroids(vecs, "label")
    val stored = Similarity.semanticDedupStored(vecs, cents, "label", 0.95)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    val direct = Similarity.semanticDedup(vecs, "label", 0.95)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(stored == direct)
    assert(stored == Map(0L -> true, 1L -> false, 2L -> true, 3L -> false))
  }

  test("containmentPairs catches a doc swallowed by a larger one that Jaccard misses") {
    val corpus = Seq(
      (0L, "alpha beta gamma"),                                        // contained in 1
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "unrelated words entirely here")
    ).toDF("doc_id", "text")
    val c = TextDedup.containmentPairs(corpus, "doc_id", "text", threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    // C(0,1) = 3/3 = 1.0; C(1,0) = 3/10 < 0.9 (direction matters); 2 matches nothing
    assert(c == Set((0L, 1L, 1.0)))
    // and the symmetric Jaccard of the same pair is 0.3 — below any dedup bar
    val j = TextDedup.jaccardPairs(corpus, "doc_id", "text", 0.5)
    assert(j.count() == 0)
  }

  test("containmentPairs equals the brute-force definition on random corpora") {
    val rnd = new scala.util.Random(7)
    val vocab = ('a' to 'p').map(_.toString)
    val corpus = (0L until 24L).map { i =>
      val k = 1 + rnd.nextInt(8)
      (i, Seq.fill(k)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" "))
    }
    val got = TextDedup.containmentPairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.6)
      .as[(Long, Long, Double)].collect().toSet
    val sets = corpus.map { case (i, t) => i -> t.split(" ").toSet }.toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a != b
      inter = (sets(a) & sets(b)).size if inter > 0
      cont = inter.toDouble / sets(a).size if cont >= 0.6
    } yield (a, b, math.floor(cont * 1e6 + 0.5) / 1e6)).toSet
    assert(got == want)
  }

  test("labelPropagation: modal adoption, min-label ties, clamped seeds, bounded rounds") {
    // 1 -- 2 -- 3   seeds: 1->10, 3->20; node 2 sees both -> tie -> min(10,20)=10
    // 4 -- 5        seed 4->30; 5 adopts 30 in round 1
    // 6 -- 7 -- 8   seed 6->40: 7 adopts in r1, 8 needs r2 (bounded-rounds check)
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L), (7L, 8L))
      .toDF("src", "dst")
    val seeds = Seq((1L, 10L), (3L, 20L), (4L, 30L), (6L, 40L)).toDF("node", "label")
    val r1 = graft.ext.Graph.labelPropagation(edges, seeds, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 10L, 3L -> 20L, 4L -> 30L, 6L -> 40L,
      2L -> 10L, 5L -> 30L, 7L -> 40L))   // 8 unreached after one round
    val r2 = graft.ext.Graph.labelPropagation(edges, seeds, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == r1 + (8L -> 40L))
    // seeds never flip even when outvoted: 2 neighbors of 3 both carry 10
    val edges2 = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    val seeds2 = Seq((1L, 10L), (2L, 10L), (3L, 20L)).toDF("node", "label")
    val r3 = graft.ext.Graph.labelPropagation(edges2, seeds2, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r3(3L) == 20L)
  }

  test("gopher quality flags: word-count gate and stopword gate discriminate") {
    val corpus = Seq(
      (0L, ("the and of " + Seq.fill(60)("word").mkString(" "))), // 63 words, stopwords
      (1L, "short doc without enough words")                      // fails word count + stopwords
    ).toDF("doc_id", "text")
    val r = corpus.select(col("doc_id") +:
        graft.ext.TextAnalysis.gopherQualityFlags(col("text")): _*)
      .select("doc_id", "n_words", "f_word_count", "f_stopwords", "quality_pass")
      .as[(Long, Long, Boolean, Boolean, Boolean)].collect().map(t => t._1 -> t).toMap
    assert(r(0L) == ((0L, 63L, true, true, true)))
    assert(r(1L)._3 == false && r(1L)._4 == false && r(1L)._5 == false)
  }
}
