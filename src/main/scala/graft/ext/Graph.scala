package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph algorithms as DataFrame programs (the engine side of
  * the dedup-clustering / influence-scoring stories; the CC min-label
  * propagation lives in [[TextDedup.connectedComponents]]).
  *
  * Scale design: every superstep is one edge-keyed equi-join + one
  * dst-keyed aggregation — the Pregel contribution-exchange pattern that
  * partitions by vertex id at any scale. The loops run through
  * [[Fixpoint]], which caches and materializes their steps, so the
  * lineage (and recomputation) never grows with iteration count.
  */
object Graph {

  /** Node count above which the per-superstep rank table is joined with a
    * shuffle instead of a broadcast (conf `graft.graph.rankBroadcastMaxNodes`).
    * A rank row is ~24 serialized bytes, so the 4M default caps the
    * broadcast near 100 MB — the same code path is then the plan at any
    * scale, degrading to a shuffled join instead of OOMing the driver. */
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
      // twice — the explode form scans it exactly once, so that persist,
      // its materializing count(), and its unpersist all go away.
      // Then fold the out-degree into the edge row with ONE window pass
      // (outdeg never changes, so joining it per superstep — or deriving
      // it with a groupBy+join, which recomputes the edge set — is wasted
      // work); the cached frame keeps the window's hash(src) partitioning.
      val withDeg = loop.keep(loop.bind(edges)
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("_e"))
        .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
        .distinct()
        .withColumn("outdeg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src")))))
      val nodes = withDeg.select(col("src").as("node")).distinct()
      val n = nodes.count() // scalar graph size, not a data collect
      // empty graph: no nodes, no ranks (avoid 1/0 literals)
      if (n == 0) nodes.select(col("node"), lit(0.0).as("rank"))
      else {
        val maxBcastNodes = broadcastGate(edges.sparkSession)
        // Under the broadcast gate the superstep's ONLY exchange is the
        // dst-keyed contribution aggregation (the rank join broadcasts, the
        // edge side streams) — pre-partition the cached edge frame by dst
        // ONCE so hash(dst) satisfies every superstep agg's distribution and
        // the whole loop runs exchange-free (guide §2.4: operations keyed
        // the same way share one exchange; r18 optimization round). One
        // edge-set shuffle at setup replaces `iters` edge-set shuffles. Past
        // the gate the rank join itself is src-keyed and shuffled, so dst
        // partitioning would buy nothing there — the window's hash(src)
        // frame stays. withDeg stays cached until exit: the initial rank
        // frame derives from it and is first evaluated inside the first
        // superstep's job.
        val edgeFrame =
          if (n <= maxBcastNodes) loop.keep(withDeg.repartition(col("dst")))
          else withDeg
        // Materialize every SECOND superstep: ranks feed exactly one
        // consumer (the next contribution join), so chaining two supersteps
        // into one job evaluates each exactly once — half the actions for
        // the same lineage bound. The win is fewer scheduler round-trips
        // per run under driver contention, where the iterative queries
        // showed a >2x driver-vs-local spread. (Contrast CC, where the
        // propagated frame feeds BOTH a union and a join branch.)
        loop.rounds(nodes.select(col("node"), q12(lit(1.0) / n).as("rank")), iters, every = 2)(
          superstep(edgeFrame, _, n, damping, teleport, maxBcastNodes))
      }
    }

  // exact-IEEE 12-decimal quantizer (see pageRank's doc)
  private def q12(c: Column): Column = floor(c * lit(1e12) + lit(0.5)) / lit(1e12)

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

  /** One Pregel superstep: contribution join + dst-keyed aggregation.
    *
    * Ranks are node-level (orders of magnitude under the edge count) —
    * broadcast them so the edge side stays map-only and the superstep's
    * single exchange is the dst-keyed contribution aggregation, the
    * irreducible Pregel shuffle. The choice is SIZE-GATED on the node
    * count: past [[RankBroadcastMaxNodesKey]] the hint is dropped and the
    * cached hash(src) partitioning carries a shuffled join with one
    * small-side exchange — same code, 100×-scale plan. Package-private so
    * the plan regression suite can pin the flip. */
  private[graft] def superstep(withDeg: DataFrame, ranks: DataFrame, n: Long,
                               damping: Double, teleport: Double,
                               maxBcastNodes: Long): DataFrame = {
    val rankSide = if (n <= maxBcastNodes) broadcast(ranks) else ranks
    withDeg
      .join(rankSide, withDeg("src") === ranks("node"))
      .select(col("dst"),
        q12(col("rank") / col("outdeg")).cast(DecimalType(28, 12)).as("c"))
      .groupBy(col("dst"))
      .agg(sum(col("c")).as("s"))
      .select(col("dst").as("node"),
        q12(lit(teleport) / n + lit(damping) * col("s").cast("double"))
          .as("rank"))
  }
}
