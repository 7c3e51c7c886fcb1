package graft.ext

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructField, StructType}

/** Iterative graph algorithms (the engine side of the
  * dedup-clustering / influence-scoring stories; the CC min-label
  * propagation lives in [[TextDedup.connectedComponents]]).
  *
  * Scale design: every superstep is one edge-keyed equi-join + one
  * dst-keyed aggregation — the Pregel contribution-exchange pattern that
  * partitions by vertex id at any scale. The loops run through
  * [[Fixpoint]], so the lineage (and recomputation) never grows with
  * iteration count. pageRank has two superstep paths, chosen by the node
  * count against [[broadcastGate]]: while its rank vector fits on the
  * driver, the edges are partitioned by dst once and each superstep is
  * one RDD job over them, with no per-round plan; past the gate each
  * superstep is a DataFrame join and aggregation, cached and
  * materialized by [[Fixpoint]]'s cadence.
  */
object Graph {

  /** Node count up to which pageRank keeps its rank vector on the driver
    * and runs each superstep as one RDD job (conf
    * `graft.graph.rankBroadcastMaxNodes`); past it every superstep is a
    * shuffled DataFrame join. A rank is 8 bytes, so at the 4M default a
    * superstep's broadcast is 32 MB and the driver holds two vectors (the
    * old and the new). The same gate picks the broadcast of
    * labelPropagation's label rows and triangleCount's sides, ~24
    * serialized bytes a row: near 100 MB at 4M. */
  val RankBroadcastMaxNodesKey = "graft.graph.rankBroadcastMaxNodes"

  /** The broadcast gate: [[RankBroadcastMaxNodesKey]] read from `spark`'s
    * conf, 4M when unset. */
  def broadcastGate(spark: SparkSession): Long =
    spark.conf.get(RankBroadcastMaxNodesKey, "4000000").toLong

  /** Damped PageRank over an undirected graph, `iters` fixed supersteps.
    *
    * Engine-invariant numerics: per-edge contributions are doubles
    * quantized to 12 decimals and summed as DECIMAL(28,12) (order-free),
    * and each new rank is re-quantized — so the same graph produces
    * bit-identical ranks on any engine, partitioning, or iteration
    * schedule. Quantization is `floor(x·1e12 + 0.5)/1e12`, NOT
    * `round(x, 12)`: every operation in the floor form is an exactly-
    * defined IEEE primitive, while decimal `round` on a double resolves
    * near-tie bits differently across engines — at 16k nodes × 5
    * supersteps one boundary hit is near-certain (observed at sf0.1).
    * Pass `teleport` = 1 − `damping` explicitly: computing `1.0 - 0.85`
    * in binary doubles yields 0.15000000000000002, not the 0.15 a SQL
    * oracle parses.
    *
    * Undirected edges mean every connected vertex has out-degree ≥ 1, so
    * there is no dangling-mass redistribution step — the variant that
    * needs a global scalar broadcast per superstep. `edges` (src, dst)
    * pairs are symmetrized and de-duplicated here.
    *
    * Two superstep paths, chosen by the node count against
    * [[broadcastGate]]. Under it the ranks are dense `Array[Double]`s on
    * the driver, 8 bytes a node, and a superstep is one RDD job over
    * dst-partitioned edge arrays ([[dstBlocks]]): no per-round plan, cache
    * or count, which is where the DataFrame loop spent its time at small
    * and mid scale (each round analysed, optimized, planned and generated
    * code for a new frame, and every second round ran a count).
    * The Scala arithmetic is Catalyst's, operation for operation, so both
    * paths return the same doubles. Past the gate the ranks do not fit on
    * the driver, and each superstep is a shuffled DataFrame join
    * ([[superstep]]) run by [[Fixpoint]]'s cadence.
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
               teleport: Double = 0.15): DataFrame =
    Fixpoint.run("Graph.pageRank", edges.sparkSession) { loop =>
      // NULL-endpoint edges drop (the graph family's hygiene rule —
      // triangleCount's canonical filter and CC's symmetrize do the same).
      // Without it one dirty edge MINTS a NULL rank sink that receives
      // mass but never redistributes, distorting every real node's rank
      // (measured: a 3-node chain's center fell 0.58 → 0.28 from one
      // NULL-endpoint edge) and surfacing a (null, rank) output row.
      // Symmetrize by EXPLODING each edge into both directions (r17
      // optimization round): the old union-of-two-selects read the input
      // twice, which forced a persist of the raw edge frame just to keep
      // an expensive upstream derivation (a fact-table join) from running
      // twice — the explode form scans it exactly once. Kept: the node
      // count reads it, then the index pass under the gate or the
      // out-degree window past it.
      val sym = loop.keep(loop.bind(edges)
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("_e"))
        .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
        .distinct())
      // n decides the path, so it is counted before any index is built:
      // one spillable distinct of the srcs, node-sized after its map-side
      // combine. Its partitions are the index's, so under the gate the
      // per-partition counts also size the rank vectors.
      val t = sym.schema("src").dataType
      val pairs = nodePairs(sym)
      val partitioner = new HashPartitioner(sym.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      val counts = GraftBridge.execute(sym, "Graph.pageRank")(
        pairs.map(e => (e._1, ())).reduceByKey(partitioner, (a, _) => a)
          .mapPartitions(it => Iterator(it.size)).collect())
      val n = counts.map(_.toLong).sum
      if (n == 0 || n <= broadcastGate(edges.sparkSession)) {
        val bySrc = sorted(pairs, partitioner)
        // built inside the first superstep's job
        val blocks = loop.keep(dstBlocks(bySrc, partitioner))
        val ranks = (1 to iters).foldLeft(counts.map(Array.fill(_)(q12(1.0 / n))))(
          (r, _) => vectorStep(blocks, r, n, damping, teleport))
        // partition p's j-th src run is the node of rank(p)(j)
        loop.result(
          StructType(Seq(StructField("node", t, nullable = false), StructField("rank", DoubleType, nullable = false))),
          bySrc.zipPartitions(bySrc.sparkContext.parallelize(ranks.toSeq, ranks.length)) { (it, r) =>
            runs(it).zip(r.next().iterator).map { case ((k, _), x) => InternalRow(k.get(0, t), x) }
          })
      } else {
        // fold the out-degree into the edge row with ONE window pass
        // (outdeg never changes, so joining it per superstep — or deriving
        // it with a groupBy+join, which recomputes the edge set — is wasted
        // work); the cached frame keeps the window's hash(src) partitioning,
        // which carries every superstep's src-keyed rank join
        val withDeg = loop.keep(sym.withColumn("outdeg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src")))))
        val nodes = withDeg.select(col("src").as("node")).distinct()
        // Materialize every SECOND superstep: ranks feed exactly one
        // consumer (the next contribution join), so chaining two supersteps
        // into one job evaluates each exactly once — half the actions for
        // the same lineage bound.
        loop.rounds(nodes.select(col("node"), q12(lit(1.0) / n).as("rank")), iters, every = 2)(
          superstep(withDeg, _, n, damping, teleport))
      }
    }

  // exact-IEEE 12-decimal quantizer (see pageRank's doc)
  private def q12(c: Column): Column = floor(c * lit(1e12) + lit(0.5)) / lit(1e12)

  /** [[q12]] on a double, as Catalyst evaluates it: `floor` of a double
    * is a long. */
  private def q12(x: Double): Double = math.floor(x * 1e12 + 0.5).toLong / 1e12

  /** One superstep under the gate: the ranks, one slice per partition,
    * broadcast once; one job whose task per partition returns its slice
    * of the new ranks. */
  private def vectorStep(blocks: RDD[DstBlock], ranks: Array[Array[Double]], n: Long,
                         damping: Double, teleport: Double): Array[Array[Double]] = {
    val bc = blocks.sparkContext.broadcast(ranks)
    try blocks.map(_.step(bc.value, n, damping, teleport)).collect()
    finally bc.destroy()
  }

  /** The edges into one partition's nodes, in compressed-row form: the
    * edges into its k-th node are `off(k)` until `off(k + 1)`, and edge i
    * runs from the `src(i)`-th node of partition `part(i)`, whose
    * out-degree is `deg(i)`. 16 bytes an edge. */
  private final case class DstBlock(off: Array[Int], part: Array[Int], src: Array[Int], deg: Array[Int]) {

    /** The block's new ranks: Catalyst's superstep arithmetic — each
      * contribution `q12(rank / outdeg)` cast to DECIMAL(28,12) the way
      * `Decimal(double)` does (the decimal of `Double.toString`, HALF_UP),
      * summed exactly, the sum cast back with `doubleValue`. The unscaled
      * sum is a long: it overflows, and fails, only past ranks of 9.2e6. */
    def step(rank: Array[Array[Double]], n: Long, damping: Double, teleport: Double): Array[Double] =
      Array.tabulate(off.length - 1) { k =>
        var sum = 0L
        var i = off(k)
        while (i < off(k + 1)) {
          val c = new java.math.BigDecimal(java.lang.Double.toString(q12(rank(part(i))(src(i)) / deg(i))))
            .setScale(12, java.math.RoundingMode.HALF_UP).unscaledValue.longValueExact
          sum = Math.addExact(sum, c)
          i += 1
        }
        q12(teleport / n + damping * java.math.BigDecimal.valueOf(sum, 12).doubleValue)
      }
  }

  /** `sym`'s (src, dst) rows as pairs of node keys: a node is the
    * one-column UnsafeRow of its value, and equal values have equal bytes,
    * since `sym` is a distinct (which also normalizes float keys). */
  private def nodePairs(sym: DataFrame): RDD[(UnsafeRow, UnsafeRow)] = {
    val t = sym.schema("src").dataType
    sym.queryExecution.toRdd.mapPartitions { it =>
      val src = UnsafeProjection.create(Seq(BoundReference(0, t, nullable = true)))
      val dst = UnsafeProjection.create(Seq(BoundReference(1, t, nullable = true)))
      it.map(r => (src(r).copy(), dst(r).copy()))
    }
  }

  /** Node keys in byte order: a total order on distinct node values. */
  private object ByteOrder extends Ordering[UnsafeRow] {
    def compare(a: UnsafeRow, b: UnsafeRow): Int = java.util.Arrays.compare(a.getBytes, b.getBytes)
  }

  /** `pairs` shuffled to their key's partition, each partition sorted by
    * [[ByteOrder]]: Spark's sort-based shuffle, which spills. */
  private def sorted[V: ClassTag](pairs: RDD[(UnsafeRow, V)], partitioner: Partitioner): RDD[(UnsafeRow, V)] =
    new ShuffledRDD[UnsafeRow, V, V](pairs, partitioner)
      .setSerializer(new KryoSerializer(pairs.sparkContext.getConf))
      .setKeyOrdering(ByteOrder)

  /** A sorted partition as runs of one key: each key once, with its
    * values. One run is held at a time. */
  private def runs[V](sorted: Iterator[(UnsafeRow, V)]): Iterator[(UnsafeRow, mutable.ArrayBuffer[V])] = {
    val it = sorted.buffered
    Iterator.continually(it).takeWhile(_.hasNext).map { it =>
      val k = it.head._1
      val vs = mutable.ArrayBuffer.empty[V]
      while (it.hasNext && it.head._1 == k) vs += it.next()._2
      (k, vs)
    }
  }

  /** The symmetric edge set as one [[DstBlock]] per partition, for the
    * supersteps under the gate, from `bySrc`: the edges in their src's
    * partition, sorted. Node v lives in partition hash(v) mod P and is
    * numbered there by its run in byte order, so a recomputed block
    * numbers its nodes the same way, and no node value reaches the
    * driver. Each src sends (partition, number, out-degree) to its dsts'
    * partition, whose runs of dsts number them as that partition's runs
    * of srcs did, the edge set being symmetric. */
  private def dstBlocks(bySrc: RDD[(UnsafeRow, UnsafeRow)], partitioner: Partitioner): RDD[DstBlock] = {
    val toDst = bySrc.mapPartitionsWithIndex { (p, it) =>
      runs(it).zipWithIndex.flatMap { case ((_, dsts), j) =>
        dsts.iterator.map(d => (d, (p.toLong << 32 | j, dsts.size)))
      }
    }
    sorted(toDst, partitioner).mapPartitions { it =>
      val (off, part, src, deg) =
        (Array.newBuilder[Int], Array.newBuilder[Int], Array.newBuilder[Int], Array.newBuilder[Int])
      var edges = 0
      off += 0
      for ((_, in) <- runs(it)) {
        for ((pj, d) <- in) { part += (pj >>> 32).toInt; src += pj.toInt; deg += d }
        edges += in.size
        off += edges
      }
      Iterator(DstBlock(off.result(), part.result(), src.result(), deg.result()))
    }
  }

  /** Semi-supervised label propagation: spread seed labels over an
    * undirected graph for a FIXED number of synchronous rounds. Each
    * round, every still-unlabeled node adopts the MODAL label among its
    * labeled neighbors (ties broken to the smallest label — the total
    * order that makes the algorithm deterministic on any partitioning);
    * labeled nodes are clamped (seeds and earlier adoptions never flip).
    * The label-spreading workhorse for training-data pipelines: a small
    * hand-labeled seed set (domain, language, quality tier) extends over
    * a similarity/co-occurrence graph without a model.
    *
    * `edges` needs columns (src, dst); `seeds` (node, label: LONG).
    * Returns (node, label) for every node labeled after `rounds`.
    *
    * Scale shape: one round = one neighbor-label equi-join (the label
    * side is node-sized and rides the same size-gated broadcast flip as
    * pageRank's ranks) + one (node, label) count + one per-node argmax —
    * all vertex-partitioned; per-node work is bounded by degree. Every
    * round is cached ([[Fixpoint]]) so lineage never grows with round
    * count. */
  def labelPropagation(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    Fixpoint.run("Graph.labelPropagation", edges.sparkSession) { loop =>
      val maxBcast = broadcastGate(edges.sparkSession)
      // graph hygiene (same rule as pageRank/triangleCount/CC): a
      // NULL-endpoint edge drops, a seed with a NULL node is unaddressable
      // and a NULL label is not a label — without these filters a NULL
      // seed label PROPAGATES as the modal "label" of real nodes, and the
      // left_anti clamp (NULL never equi-matches) re-adopts the NULL node
      // every round, emitting duplicate (null, …) output rows
      // explode-symmetrize: one scan of the (possibly join-derived) edge
      // input instead of the union form's two — same rows, same distinct
      val adj = loop.keep(loop.bind(edges).filter(col("src").isNotNull && col("dst").isNotNull)
        .select(explode(array(
          struct(col("src").as("x"), col("dst").as("y")),
          struct(col("dst").as("x"), col("src").as("y")))).as("_e"))
        .select(col("_e.x").as("x"), col("_e.y").as("y"))
        .distinct())
      // one setup action: the edge count is a conservative gate for the
      // node-sized label table (labels ⊆ nodes ≤ 2·edges). Per-round label
      // counting would cost an extra job per round for a tighter bound the
      // fixture never needs; past the gate the joins degrade to shuffles.
      val nAdj = adj.count()
      def gated(df: DataFrame): DataFrame =
        if (nAdj <= maxBcast) broadcast(df) else df
      // Under the gate both per-round joins broadcast their label side, so
      // the round's only exchanges are the (x, label) vote count and the
      // per-x argmax — and hash(x) satisfies BOTH distributions (x is a
      // prefix of (x, label)). Pre-partition the cached adjacency by x ONCE
      // and every round runs exchange-free (guide §2.4; r18 optimization
      // round — same lever as pageRank's dst pre-partition). Past the gate
      // the neighbor-label join shuffles by y and destroys any x
      // partitioning, so the plain distinct frame stays there.
      val adjFrame =
        if (nAdj <= maxBcast) loop.keep(adj.repartition(col("x")))
        else adj
      val init = loop.bind(seeds).filter(col("node").isNotNull && col("label").isNotNull)
        .select(col("node"), col("label"))
      // a round's labels feed three consumers of the next round (the
      // neighbor-label and clamp broadcasts and the union), so every round
      // is cached; materializing every second round lets the next round's
      // broadcast build the cache in between — at the pack's two rounds,
      // one count for the whole loop
      loop.rounds(init, rounds, every = 2) { labels =>
        val lbl = labels.select(col("node").as("y"), col("label"))
        // the anti side rides the same gate: without it the EDGE-sized
        // neighbor-label stream would shuffle just to subtract the
        // node-sized labeled set
        val counts = adjFrame.join(gated(lbl), Seq("y"))
          .join(gated(labels.select(col("node").as("x"))), Seq("x"), "left_anti")
          .groupBy(col("x"), col("label")).agg(count(lit(1)).as("c"))
        // argmax by (count desc, label asc): max of (c, -label) needs no
        // second shuffle beyond the per-node aggregation
        val adopted = counts
          .groupBy(col("x"))
          .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
          .select(col("x").as("node"), (-col("m.nl")).as("label"))
        labels.unionByName(adopted)
      }
    }

  /** Exact triangle count by degree-ordered orientation (the standard
    * distributed algorithm, Cohen's MapReduce formulation / Suri-Vassilvitskii):
    * canonicalize to undirected distinct edges, orient each edge from its
    * lower-(degree, id) endpoint to the higher one, enumerate wedges by
    * joining oriented edges on their SOURCE, and close each wedge with a
    * hash join back against the oriented edge set. Every triangle is
    * counted exactly once (at its minimum-degree apex).
    *
    * Scale shape: orientation bounds every vertex's out-degree at
    * O(√m) — the wedge join's output is Σ outdeg² ≤ O(m^{3/2}) no matter
    * how skewed the raw degree distribution is (a hub of degree 1M
    * contributes ZERO wedges as a source once oriented away from it).
    * Both joins are hash-partitionable equi-joins; nothing broadcasts
    * but the plan's own small sides, nothing is quadratic in n.
    * Returns one row: (n_vertices, n_edges, n_wedges, n_triangles).
    *
    * Execution shape: the oriented edge set is materialized once and its
    * COUNT gates a broadcast of the wedge-probe and closing sides (≤
    * [[RankBroadcastMaxNodesKey]] edges — the same flip the pageRank
    * rank side uses): under the gate the whole wedge-enumerate + close +
    * count pipeline is ONE codegen stage with no shuffle; past it the
    * same plan runs as shuffled equi-joins. n_wedges and n_triangles
    * come from a single pass — the closing join is a LEFT join against
    * the canonical edge set (unique (u,v) pairs, so no fan-out), with
    * count(*) = wedges and count(matched) = triangles. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val canon = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist()
    val nE = canon.count() // materialize; oriented is 1:1 with canon
    val s = edges.sparkSession
    val maxBcast = broadcastGate(s)
    def gated(df: DataFrame): DataFrame =
      if (nE <= maxBcast) broadcast(df) else df
    val deg = canon.select(col("u").as("x"))
      .union(canon.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
      .persist()
    val nV = deg.count() // every vertex appears in deg exactly once
    // orient from the lower (degree, id) endpoint: ties break on id so
    // the orientation is total and deterministic; deg is node-sized so
    // it rides the same broadcast gate as the wedge sides
    val withDeg = canon
      .join(gated(deg.select(col("x").as("u"), col("d").as("du"))), Seq("u"))
      .join(gated(deg.select(col("x").as("v"), col("d").as("dv"))), Seq("v"))
    val oriented = withDeg.select(
      when(col("du") < col("dv") ||
           (col("du") === col("dv") && col("u") < col("v")), col("u"))
        .otherwise(col("v")).as("s"),
      when(col("du") < col("dv") ||
           (col("du") === col("dv") && col("u") < col("v")), col("v"))
        .otherwise(col("u")).as("t"))
      .persist()
    val a = oriented.select(col("s"), col("t").as("t1"))
    val b = oriented.select(col("s"), col("t").as("t2"))
    val wedges = a.join(gated(b), Seq("s")).filter(col("t1") < col("t2"))
    // wedges carry t1 < t2 and canon is (u < v)-canonical, so the wedge
    // closes iff (t1, t2) is a canonical edge — one LEFT equi-join (canon
    // pairs are unique, so no fan-out) counts wedges AND triangles in a
    // single pass over the wedge stream
    val counts = wedges.join(gated(canon),
        col("t1") === col("u") && col("t2") === col("v"), "left")
      .agg(count(lit(1)).as("nW"), count(col("u")).as("nT")).head()
    val (nW, nT) = (counts.getLong(0), counts.getLong(1))
    oriented.unpersist()
    canon.unpersist()
    deg.unpersist()
    import s.implicits._
    Seq((nV, nE, nW, nT)).toDF("n_vertices", "n_edges", "n_wedges", "n_triangles")
  }

  /** One Pregel superstep past the gate: contribution join + dst-keyed
    * aggregation. The ranks do not fit on the driver there, so the join is
    * shuffled: the cached hash(src) partitioning of `withDeg` carries it
    * with one rank-side exchange, and the dst-keyed contribution
    * aggregation is the irreducible Pregel shuffle. Package-private so
    * the plan regression suite can pin its shape. */
  private[graft] def superstep(withDeg: DataFrame, ranks: DataFrame, n: Long,
                               damping: Double, teleport: Double): DataFrame =
    withDeg
      .join(ranks, withDeg("src") === ranks("node"))
      .select(col("dst"),
        q12(col("rank") / col("outdeg")).cast(DecimalType(28, 12)).as("c"))
      .groupBy(col("dst"))
      .agg(sum(col("c")).as("s"))
      .select(col("dst").as("node"),
        q12(lit(teleport) / n + lit(damping) * col("s").cast("double"))
          .as("rank"))
}
