package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Buffers

/** Graph operators over plain edge-list DataFrames (src, dst) — no graph
  * library, no driver-side adjacency: every step is a keyed join or
  * aggregate, so the shapes are the ones that survive a billion-edge
  * graph (link graphs for crawl ranking, citation graphs for source
  * weighting).
  */
object Graph {

  /** PageRank over a directed edge list: iterative power method,
    * r'(v) = (1−d)/|V| + d·Σ_{u→v} r(u)/outdeg(u), run for a FIXED
    * `iters` rounds (fixed rounds keep the result deterministic and
    * oracle-replayable; convergence-epsilon stopping would tie the
    * output to float noise). Multi-edges act as weights; callers wanting
    * set semantics pass a distinct edge list. Dangling nodes (no
    * out-edges) simply evaporate their mass — symmetrized edge lists
    * (the usual analytics derivation) have none, and then total rank
    * stays exactly 1.
    *
    * Scale shape, mirroring [[Dedup.dupComponents]]: the edge list and
    * its out-degrees are materialized ONCE (they are re-joined every
    * round; upstream they are typically a join over the fact tables),
    * and each round is one edges⋈ranks join + one aggregate, re-keyed by
    * destination, materialized to truncate lineage — localCheckpoint by
    * default, parquet rounds under `checkpointDir` for the
    * executor-loss-safe 100-TB form. Per-edge contributions are
    * quantized to DECIMAL(30,12) and summed exactly, so every round —
    * and therefore the fixpoint trajectory — is independent of
    * partitioning and summation order (the k-means/sourceShift
    * determinism convention; double sums are order-sensitive inside an
    * iteration and the error would compound across rounds).
    */
  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iters > 0, "pageRank: iters must be positive")
    require(damping > 0 && damping < 1,
      s"pageRank: damping must be in (0,1), got $damping")
    val materialize = Buffers.materializer(checkpointDir)
    val e = materialize(edges.select("src", "dst"), "pr_edges")
    val deg = e.groupBy("src").agg(count(lit(1)).as("od"))
    val withDeg = materialize(e.join(deg, "src"), "pr_edges_deg")
    val nodes = materialize(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct(), "pr_nodes")
    val nV = nodes.count() // bounded driver state: one long
    require(nV > 0, "pageRank: empty edge list")
    // Detected ONCE upfront: when every node receives an in-edge (true
    // for any symmetrized edge list — the usual analytics derivation),
    // the per-round contribution aggregate already covers the full node
    // set and the per-round nodes left-outer join is a no-op — skip it,
    // saving one join per round. Nodes without in-edges only exist
    // otherwise, and only then is the left-outer needed to hand them
    // their base mass.
    val allReceive = e.select("dst").distinct().count() == nV
    val base = (1 - damping) / nV
    var ranks = nodes.withColumn("rank", lit(1.0 / nV))
    (1 to iters).foreach { i =>
      val contribs = withDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          (col("rank") / col("od").cast("double"))
            .cast(DecimalType(30, 12)).as("c"))
        .groupBy("node").agg(sum("c").as("m"))
      val next =
        if (allReceive)
          contribs.select(col("node"),
            (lit(base) + lit(damping) * col("m").cast("double")).as("rank"))
        else
          nodes.join(contribs, Seq("node"), "left_outer")
            .select(col("node"),
              (lit(base) + lit(damping) *
                coalesce(col("m").cast("double"), lit(0.0))).as("rank"))
      ranks = materialize(next, s"pr_round_$i")
    }
    ranks.select(col("node"), round(col("rank"), 8).as("rank"))
  }

  /** HITS hubs-and-authorities over a directed edge list, `iters` full
    * mutual-reinforcement rounds with L1 normalization: authority(v) =
    * Σ_{u→v} hub(u), hub(u) = Σ_{u→v} authority(v), each vector rescaled
    * to sum 1 after its update. On a bipartite graph (buyer→vendor,
    * page→cited-source) this separates the two roles PageRank blends:
    * hubs are prolific pointers, authorities are heavily-pointed-at
    * sinks. Output is one row per scored node: (node, kind∈{hub,auth},
    * score) — nodes with no out-edges get no hub row (they reinforce
    * nothing), mirroring no-in-edge nodes and auth rows.
    *
    * L1 (not the textbook L2) normalization keeps every operation
    * rational: per-edge contributions are quantized to DECIMAL(30,12)
    * and summed exactly, the normalizer is an exact decimal total, and
    * the one division per node is IEEE — so the whole trajectory is
    * partitioning- and engine-independent, same convention as
    * [[pageRank]]. Same materialization scheme too: edges once, each
    * half-round truncated (localCheckpoint, or parquet rounds under
    * `checkpointDir`).
    */
  def hits(edges: DataFrame, iters: Int = 5,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iters > 0, "hits: iters must be positive")
    val materialize = Buffers.materializer(checkpointDir)
    val e = materialize(edges.select("src", "dst"), "hits_edges")
    // Materialize the RAW aggregate, then normalize over the buffer: the
    // earliest form (crossJoin(broadcast(total)) over the un-materialized
    // aggregate) executed the edges⋈scores join + aggregate TWICE per
    // half-round — once to compute the broadcast total, once for the main
    // side. Materializing first fixed that; the total is now additionally
    // folded into the plan as a BROADCAST single-row aggregate over the
    // checkpointed buffer (guide §2.4) instead of a per-half-round driver
    // collect: the previous `.head()` cost one synchronous driver
    // round-trip job per half-round (10 at the default 5 iters), while
    // the broadcast build is a cheap sub-job of the NEXT half-round's
    // materialization over the same node-sized buffer. The sum is still
    // the exact decimal total (order-independent), the division the same
    // double/double — identical trajectory, fewer driver-sequenced jobs
    // per round. coalesce covers the zero-row buffer exactly like the
    // old Option(...).getOrElse(ZERO) (the division then never runs —
    // a crossJoin with the empty raw side is empty either way).
    def normalized(raw0: DataFrame, name: String): DataFrame = {
      val raw = materialize(raw0, name)
      val tot = raw.agg(coalesce(sum("raw"),
        lit(java.math.BigDecimal.ZERO).cast(DecimalType(30, 12)))
        .as("__l1_total"))
      raw.crossJoin(broadcast(tot))
        .select(col("node"),
          (col("raw").cast("double") / col("__l1_total").cast("double"))
            .as("score"))
    }
    var hubs = e.select(col("src").as("node")).distinct()
      .withColumn("score", lit(1.0))
    var auths: DataFrame = null
    (1 to iters).foreach { i =>
      auths = normalized(
        e.join(hubs.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(col("score").cast(DecimalType(30, 12))).as("raw")),
        s"hits_a_$i")
      hubs = normalized(
        e.join(auths.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node"))
          .agg(sum(col("score").cast(DecimalType(30, 12))).as("raw")),
        s"hits_h_$i")
    }
    hubs.select(col("node"), lit("hub").as("kind"),
        round(col("score"), 8).as("score"))
      .union(auths.select(col("node"), lit("auth").as("kind"),
        round(col("score"), 8).as("score")))
  }

  /** Degree histogram of a directed edge list: for each direction, how
    * many nodes have each degree — the first diagnostic run on any new
    * graph (a heavy right tail here is the skew that later dictates
    * salting/broadcast choices in the joins over this graph; a spike at
    * degree 1 flags a near-tree). One row per (direction ∈ {out,in},
    * degree). Two aggregations per direction — per-node degree, then the
    * histogram rollup whose output is at most the distinct-degree count.
    */
  def degreeHistogram(edges: DataFrame): DataFrame = {
    def side(c: String, name: String) =
      edges.groupBy(col(c).as("node"))
        .agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .select(lit(name).as("direction"), col("degree"), col("n_nodes"))
    side("src", "out").union(side("dst", "in"))
  }

  /** Community detection by SYNCHRONOUS label propagation over an
    * undirected view of the edge list, run for a FIXED `iters` rounds
    * (the pageRank/k-means convention: fixed rounds keep the result
    * deterministic and oracle-replayable where convergence stopping
    * would tie it to oscillation noise). Every node starts labeled
    * with itself; each round every node adopts its neighbors' MOST
    * FREQUENT label, ties to the smallest label — both the count and
    * the tie-break are integers, so rounds replay identically on any
    * engine and any partitioning. Nodes must be integral (the argmax
    * is `max(struct(count, −label))` — a numeric total order).
    *
    * Scale shape: one symmetrized edge materialization, then per round
    * ONE edges⋈labels join + two integer aggregates whose output is
    * node-count-sized; rounds are materialized to truncate lineage
    * (localCheckpoint by default, parquet rounds under
    * `checkpointDir`). Nothing all-pairs, no global window, no driver
    * state beyond the round counter.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 5,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iters > 0, "labelPropagation: iters must be positive")
    val materialize = Buffers.materializer(checkpointDir)
    val und = materialize(
      edges.select(col("src").cast("long").as("node"),
          col("dst").cast("long").as("nbr"))
        .union(edges.select(col("dst").cast("long").as("node"),
          col("src").cast("long").as("nbr")))
        // AFTER the union: filtering only the forward branch would let
        // a self-loop survive through the reversed one
        .filter(col("node") =!= col("nbr"))
        .distinct(), "lp_edges")
    var labels = und.select(col("node")).distinct()
      .select(col("node"), col("node").as("label"))
    (1 to iters).foreach { i =>
      // neighbor-label histogram, then integer argmax (count desc,
      // label asc). Every node of `und` has >= 1 neighbor by
      // construction (symmetrized, self-loops dropped), so the argmax
      // covers the full node set each round.
      val next = und
        .join(labels.withColumnRenamed("node", "nbr"), "nbr")
        .groupBy("node", "label").agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("b"))
        .select(col("node"), (-col("b.nl")).as("label"))
      labels = materialize(next, s"lp_round_$i")
    }
    labels
  }

  /** Per-node triangle counts over an UNDIRECTED edge list (direction
    * and duplicates ignored; self-loops dropped) — the local clustering
    * signal of link analysis, and the canonical example of a join whose
    * naive form explodes on hubs.
    *
    * The scale device is DEGREE ORIENTATION (the node-iterator++ /
    * Schank–Wagner scheme): orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher, so each triangle is
    * counted exactly once (at its lowest-ranked apex) and — the point —
    * every node's OUT-degree in the oriented graph is O(√m): a
    * celebrity node with a million followers has out-degree ~0 because
    * almost all its neighbors rank below it. The wedge join's fan-out
    * is Σ outdeg², bounded by m^1.5 total, where the unoriented
    * Σ deg² is quadratic in the hub degree. Three shuffles: wedge join
    * on the pivot, closure join on the (a, c) edge key, one aggregate
    * per corner.
    *
    * Output: (node, triangles) for EVERY node of the graph (zero for
    * triangle-free nodes). Exact, deterministic, oracle-replayable —
    * counting is integer and orientation's (degree, id) rank is a total
    * order.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // canonical undirected edge set: one row per unordered pair {a, b}.
    // BUFFERED, as are deg and the oriented set: each is consumed by
    // several joins (deg, the two wedge sides, the closure), and the
    // upstream edge derivation is often a whole pipeline (the q165
    // near-dup graph) that would otherwise re-execute per consumer —
    // measured 5× the operator's own cost before materialization.
    Buffers.scoped(edges
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()) { und =>
      Buffers.scoped(und.select(col("a").as("node"))
          .union(und.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))) { deg =>
        // orient by (degree, id) rank — lower endpoint points at higher
        val withDeg = und
          .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
          .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
        Buffers.scoped(withDeg.select(
            when(col("da") < col("db") ||
                (col("da") === col("db") && col("a") < col("b")),
              struct(col("a").as("u"), col("b").as("v")))
              .otherwise(struct(col("b").as("u"), col("a").as("v")))
              .as("e"))
            .select(col("e.u").as("u"), col("e.v").as("v"))) { oriented =>
          // wedges u→v, u→w with v < w (one canonical wedge per pair),
          // then close on the oriented edge between v and w
          // (orientation between v and w is by THEIR ranks — check both
          // directions via the canonical min/max key of the oriented
          // edge set)
          val wedges = oriented.as("e1")
            .join(oriented.as("e2"), col("e1.u") === col("e2.u"))
            .filter(col("e1.v") < col("e2.v"))
            .select(col("e1.u").as("x"), col("e1.v").as("y"),
              col("e2.v").as("z"))
          val closing = oriented.select(
            least(col("u"), col("v")).as("y"),
            greatest(col("u"), col("v")).as("z"))
          val tris = wedges.join(closing, Seq("y", "z"))
          // ONE pass over the triangle relation (an explode, not a
          // 3-branch union that would re-run the wedge + closure joins
          // per branch)
          val corners = tris
            .select(explode(array(col("x"), col("y"), col("z")))
              .as("node"))
            .groupBy("node").agg(count(lit(1)).as("triangles"))
          // materialize the node-count-sized result eagerly — returned
          // lazily it would depend on the buffers released on return
          Buffers.once(deg.select("node")
            .join(corners, Seq("node"), "left")
            .select(col("node"),
              coalesce(col("triangles"), lit(0L)).as("triangles")))
        }
      }
    }
  }
}
