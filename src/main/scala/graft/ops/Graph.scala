package graft.ops

import graft.pipeline.Stage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.Exact.{dec, d28, d6}

/** Iterative graph measures over edge DataFrames. Same execution
  * discipline as [[graft.pipeline.TextDedup.dupClusters]]: per-round
  * eager materialization truncates lineage (reliable `checkpoint` when
  * the context has a checkpoint dir — executor-loss-safe on clusters —
  * else `localCheckpoint`), loop state lives on executors, and every
  * round is a fixed number of keyed exchanges — nothing driver-side
  * scales with the graph.
  */
object Graph {

  /** PageRank by power iteration over weighted directed edges:
    *
    *   score'(v) = (1−d)/N + d·(Σ_{u→v} score(u)·p(u→v) + dangling/N)
    *
    * where p normalizes `weightCol` per source (Σ_v p(u→v) = 1) and
    * `dangling` is the score mass sitting on nodes with no outgoing
    * edges, redistributed uniformly — Σ score stays exactly 1 every
    * round. Runs a FIXED `iters` rounds (deterministic output for a
    * deterministic input, unlike tolerance-stopped variants whose round
    * count flips on an ulp).
    *
    * Scale shape per round: one node-keyed join (scores ⋈ edges), one
    * dst-keyed partial aggregate, a 1-row dangling aggregate and the
    * 1-row N frame riding broadcast crossJoins — in-plan scalars, never
    * collected. The normalized edge and node frames are materialized
    * once before the loop. Power iteration needs O(diameter-independent)
    * rounds for convergence (damping contracts by 0.85/round), so
    * `iters`=10..20 covers web-scale graphs; each round's cost is the
    * two keyed exchanges, the classic distributed-PageRank shape.
    *
    * Output: (node, pagerank) for every node appearing in any edge.
    *
    * Precondition: `weightCol` values are non-negative with a positive
    * per-source sum (they normalize to transition probabilities).
    * VALIDATED for free: an observe() on the edge-normalization pass
    * (which touches every weight anyway) checks `min(weight) >= 0` in
    * the same job and throws instead of silently corrupting the
    * distribution. A source whose weights SUM to 0 (all-zero edges —
    * legal input) is demoted to dangling: its edges drop at the
    * normalization filter, so no 0.0/0.0 NaN ever enters the scores,
    * and the node itself stays in the ranking universe.
    *
    * Convergence telemetry: each round's plan carries a named
    * observe() — `graft_pagerank_it<i>` with `l1_delta` =
    * Σ|score′−score| — riding the SAME job as the round's
    * materialization (no extra pass). The metrics reach every
    * QueryExecutionListener and the event log, so a fixed-iteration
    * run at 100 TB reports how converged it is without being re-run.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iters: Int = 10,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damping >= 0 && damping < 1, s"damping in [0,1), got $damping")

    val perSrc = Window.partitionBy(col("_g_src"))
    // MATERIALIZED, not cache()d — the loop re-references these frames
    // every round and a cached frame still carries its full logical
    // plan, which Catalyst re-analyzes and re-optimizes per action
    // (the dupClusters lesson, BASELINE.md r8)
    val wObs = org.apache.spark.sql.Observation("graft_pagerank_weights")
    // a source whose weights sum to 0 has no normalizable outgoing
    // mass: its edges are dropped here, which makes the node DANGLING
    // (its mass redistributes uniformly below) instead of silently
    // poisoning every score with 0.0/0.0 = NaN transition probabilities
    val w = Stage.materialize(edges.select(
        col(srcCol).as("_g_src"), col(dstCol).as("_g_dst"),
        col(weightCol).cast("double").as("_g_w"))
      .observe(wObs, min(col("_g_w")).as("min_w"))
      .withColumn("_g_sw", sum(col("_g_w")).over(perSrc))
      .filter(col("_g_sw") > 0.0)
      .withColumn("_g_p", col("_g_w") / col("_g_sw"))
      .select(col("_g_src"), col("_g_dst"), col("_g_p")))
    val minW = wObs.get("min_w")
    if (minW != null && minW.asInstanceOf[Double] < 0)
      throw new IllegalArgumentException(
        s"pageRank weights must be non-negative to normalize into " +
          s"transition probabilities; min($weightCol) = $minW")
    // node universe from the RAW edge set — the zero-sum-source filter
    // above must demote nodes to dangling, not erase them
    val nodes = Stage.materialize(
      edges.select(col(srcCol).as("node"))
        .union(edges.select(col(dstCol)))
        .distinct())
    // 1-row frames: N and the out-degree-bearing node set's complement
    // mass ride broadcasts — in-plan scalars, the q60/q113 discipline
    val nn = nodes.agg(count(lit(1)).cast("double").as("_g_n"))
    val srcs = Stage.materialize(w.select(col("_g_src").as("node")).distinct())
    var scores = Stage.materialize(
        nodes.crossJoin(broadcast(nn))
        .select(col("node"), (lit(1.0) / col("_g_n")).as("score")))
    var it = 0
    while (it < iters) {
      val contrib = scores
        .join(w, scores("node") === w("_g_src"))
        .groupBy(col("_g_dst"))
        .agg(sum(col("score") * col("_g_p")).as("_g_in"))
      val dangling = scores.join(srcs, Seq("node"), "left_anti")
        .agg(coalesce(sum(col("score")), lit(0.0)).as("_g_dangling"))
      // joining contrib onto SCORES (same node set as `nodes`, plus the
      // previous score in-row) lets the round's L1 delta ride the same
      // job as the materialization — no second pass, no extra exchange
      val obs = org.apache.spark.sql.Observation(s"graft_pagerank_it$it")
      val next = scores
        .join(contrib, scores("node") === contrib("_g_dst"), "left")
        .crossJoin(broadcast(nn))
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("score").as("_g_prev"),
          (lit(1.0 - damping) / col("_g_n") +
            lit(damping) * (coalesce(col("_g_in"), lit(0.0)) +
              col("_g_dangling") / col("_g_n"))).as("score"))
        .observe(obs, sum(abs(col("score") - col("_g_prev"))).as("l1_delta"))
      scores = Stage.materialize(next).select(col("node"), col("score"))
      it += 1
    }
    scores.select(col("node"), col("score").as("pagerank"))
  }

  /** Per-node triangle count and local clustering coefficient over an
    * undirected graph given as (possibly directed, possibly duplicated)
    * edge rows. Self-loops are dropped; each unordered pair counts once.
    *
    * Enumeration is DEGREE-ORDERED (the compact-forward shape): every
    * edge is oriented from its lower-(degree, rank) endpoint to the
    * higher, wedges are generated only at each edge's low end, and a
    * wedge closes iff its (v, w) pair is itself an oriented edge. The
    * wedge count is then Σ_u d⁺(u)² with d⁺(u) ≤ O(√m) on any graph —
    * the hub node of a star generates ZERO wedges instead of deg², which
    * is what keeps the shuffle bounded on power-law graphs at corpus
    * scale. The (degree, label) order key rides as an ORDERABLE STRUCT
    * column — `least`/`greatest` and hash joins work on structs — so no
    * global rank window (a single-partition sort at graph scale) is
    * ever built.
    *
    * Output: (node, degree, n_triangles, clustering_coeff) for every
    * node with at least one edge; coefficient = 2·t / (deg·(deg−1)),
    * 0.0 where deg < 2.
    */
  def triangles(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).as("_g_a"), col(dstCol).as("_g_b"))
      .filter(col("_g_a") =!= col("_g_b"))
    // canonical undirected pair set: (min, max), once
    val und = raw.select(
        least(col("_g_a"), col("_g_b")).as("_g_a"),
        greatest(col("_g_a"), col("_g_b")).as("_g_b"))
      .distinct()
    val deg = und.select(col("_g_a").as("node"))
      .union(und.select(col("_g_b")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // the total order: (degree, label) as an orderable struct key
    val ka = deg.select(col("node").as("_g_a"),
      struct(col("degree"), col("node")).as("_g_ka"))
    val kb = deg.select(col("node").as("_g_b"),
      struct(col("degree"), col("node")).as("_g_kb"))
    // orient each edge low-key → high-key
    val oriented = und.join(ka, "_g_a").join(kb, "_g_b")
      .select(least(col("_g_ka"), col("_g_kb")).as("_g_lo"),
        greatest(col("_g_ka"), col("_g_kb")).as("_g_hi"))
    val e1 = oriented.select(col("_g_lo").as("_g_u"), col("_g_hi").as("_g_v"))
    val e2 = oriented.select(col("_g_lo").as("_g_u"), col("_g_hi").as("_g_w"))
    val wedges = e1.join(e2, "_g_u").filter(col("_g_v") < col("_g_w"))
    val tri = wedges.join(oriented,
      wedges("_g_v") === oriented("_g_lo") &&
        wedges("_g_w") === oriented("_g_hi"), "left_semi")
    // each triangle (u,v,w) credits all three corners
    val perNode = tri.select(explode(array(
        col("_g_u"), col("_g_v"), col("_g_w"))).as("_g_k"))
      .groupBy(col("_g_k.node").as("node"))
      .agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, "node")
      .select(col("node"), col("degree"), col("n_triangles"))
      .unionByName(
        deg.join(perNode, Seq("node"), "left_anti")
          .select(col("node"), col("degree"), lit(0L).as("n_triangles")))
      .select(col("node"), col("degree"), col("n_triangles"),
        when(col("degree") < 2, lit(0.0))
          .otherwise(col("n_triangles") * 2.0 /
            (col("degree") * (col("degree") - lit(1L))))
          .as("clustering_coeff"))
  }

  /** Weighted HITS (hubs & authorities) by power iteration:
    *
    *   auth'(v) = Σ_{u→v} w(u,v)·hub(u)
    *   hub'(u)  = Σ_{u→v} w(u,v)·auth'(v)
    *
    * Each round L1-normalizes the hub vector (a 1-row aggregate riding a
    * broadcast crossJoin) — normalization is what keeps 20 iterations of
    * count-valued weights inside double range at corpus scale, and since
    * every step is linear the scale factors cancel: the FINAL L1-
    * normalized (hub, authority) pair is identical to an unnormalized
    * run normalized once at the end, which is exactly what a SQL oracle
    * can express in a single recursive CTE. Returns every node in any
    * edge with (node, hub, authority), both vectors summing to 1.
    *
    * Same loop discipline as [[pageRank]]: frames materialized per
    * round, two keyed exchanges per iteration, nothing driver-side —
    * and the same free validation/telemetry: `min(weight) >= 0` checked
    * by an observe() on the edge-load pass, and each round's hub-vector
    * L1 delta emitted as `graft_hits_it<i>`/`l1_delta` riding the
    * round's own materialization job.
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iters: Int = 10): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val wObs = org.apache.spark.sql.Observation("graft_hits_weights")
    val w = Stage.materialize(edges.select(
        col(srcCol).as("_g_src"), col(dstCol).as("_g_dst"),
        col(weightCol).cast("double").as("_g_w"))
      .observe(wObs, min(col("_g_w")).as("min_w")))
    val minW = wObs.get("min_w")
    if (minW != null && minW.asInstanceOf[Double] < 0)
      throw new IllegalArgumentException(
        s"hits weights must be non-negative; min($weightCol) = $minW")
    val nodes = Stage.materialize(
      w.select(col("_g_src").as("node"))
        .union(w.select(col("_g_dst"))).distinct())
    var hub = nodes.select(col("node"), lit(1.0).as("hub"))
    var auth: DataFrame = null
    var it = 0
    while (it < iters) {
      val a = w.join(hub, w("_g_src") === hub("node"))
        .groupBy(col("_g_dst"))
        .agg(sum(col("_g_w") * col("hub")).as("_g_auth"))
      auth = Stage.materialize(
        nodes.join(a, nodes("node") === a("_g_dst"), "left")
          .select(col("node"),
            coalesce(col("_g_auth"), lit(0.0)).as("auth")))
      val h = w.join(auth, w("_g_dst") === auth("node"))
        .groupBy(col("_g_src"))
        .agg(sum(col("_g_w") * col("auth")).as("_g_hub"))
      val hTot = h.agg(sum(col("_g_hub")).as("_g_tot"))
      // hub (not nodes) on the left: the previous hub value rides
      // in-row, so the round's L1 delta observes on the same job
      val obs = org.apache.spark.sql.Observation(s"graft_hits_it$it")
      hub = Stage.materialize(
        hub.join(h, hub("node") === h("_g_src"), "left")
          .crossJoin(broadcast(hTot))
          .select(col("node"), col("hub").as("_g_prev"),
            (coalesce(col("_g_hub"), lit(0.0)) / col("_g_tot")).as("hub"))
          .observe(obs,
            sum(abs(col("hub") - col("_g_prev"))).as("l1_delta")))
        .select(col("node"), col("hub"))
      it += 1
    }
    val aTot = auth.agg(sum(col("auth")).as("_g_atot"))
    hub.join(auth, "node").crossJoin(broadcast(aTot))
      .select(col("node"), col("hub"),
        (col("auth") / col("_g_atot")).as("authority"))
  }

  /** Normalized undirected adjacency: self-loops dropped, each
    * unordered pair once in BOTH directions, node ids as strings.
    * Returned frame has columns (_g_a, _g_b). */
  private def undirected(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val s = col(srcCol).cast("string")
    val d = col(dstCol).cast("string")
    val pairs = edges.filter(s =!= d)
      .select(least(s, d).as("_g_a"), greatest(s, d).as("_g_b"))
      .distinct()
    pairs.union(pairs.select(col("_g_b"), col("_g_a")))
  }

  /** k-core decomposition membership: iteratively peel nodes of degree
    * < k until the remaining subgraph is stable — the standard
    * density-community primitive (a node in the k-core has ≥ k
    * neighbors INSIDE the core). Output: (node, core_degree) for the
    * surviving nodes, where core_degree is the node's degree within the
    * final core.
    *
    * Execution follows the [[pageRank]] loop discipline: the normalized
    * undirected edge frame and the alive set are materialized per round
    * (lineage-truncated), each round is ONE b-side semi-join + ONE
    * a-keyed count aggregate + ONE a-side semi-join, and the only
    * driver-side value is the alive COUNT (an action, not a collect).
    * Peeling converges in ≤ rounds proportional to the degeneracy
    * ordering depth; `maxRounds` bounds a pathological chain (a path
    * graph peels one layer per round) and failing it raises loudly
    * rather than returning a half-peeled set.
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val und = Stage.materialize(undirected(edges, srcCol, dstCol))
    var alive = Stage.materialize(und.select(col("_g_a").as("node")).distinct())
    var n = alive.count()
    var rounds = 0
    var stable = false
    while (!stable) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"kCore: not stable after $maxRounds peel rounds " +
            s"($n nodes alive) — raise maxRounds")
      val next = Stage.materialize(
        und
          .join(alive.select(col("node").as("_g_b")), Seq("_g_b"),
            "left_semi")
          .groupBy(col("_g_a")).agg(count(lit(1)).as("_g_deg"))
          .filter(col("_g_deg") >= k)
          .select(col("_g_a").as("node"))
          .join(alive, Seq("node"), "left_semi"))
      val m = next.count()
      if (m == n) stable = true
      else { alive = next; n = m }
      if (n == 0) stable = true
    }
    und
      .join(alive.select(col("node").as("_g_b")), Seq("_g_b"), "left_semi")
      .join(alive.select(col("node").as("_g_a")), Seq("_g_a"), "left_semi")
      .groupBy(col("_g_a").as("node"))
      .agg(count(lit(1)).as("core_degree"))
  }

  /** Adamic–Adar link prediction over an undirected graph: for every
    * NON-adjacent candidate pair (u, v) with at least one common
    * neighbor, score = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) — common
    * neighbors weighted by how selective they are (a shared rare
    * neighbor says more than a shared hub). Top-`topK` pairs by
    * (score desc, u, v). Output: (u, v, n_common, aa_score).
    *
    *   - deg(w) ≥ 2 by construction (w neighbors both u and v), so
    *     ln(deg) > 0 always.
    *   - Each 1/ln term is d6-rounded BEFORE the decimal sum —
    *     summation-order-free, engine-exact.
    *   - The candidate generator is the adjacency SELF-JOIN on the
    *     shared neighbor — fan-out deg(w)² at each w, the classic AA
    *     hot spot on power-law graphs. `maxNeighborDegree` prunes hub
    *     intermediates ABOVE the cap before pairing (the q112 df-cap
    *     discipline): a documented approximation — each dropped hub
    *     contributes < 1/ln(cap) per pair — that bounds per-key fan-out
    *     at any graph scale. Set it ≥ the max degree for the exact
    *     score.
    *
    * Scale shape: degree aggregate, one equi-join pair generation
    * (bounded by the cap), one (u,v)-keyed aggregate, one broadcast
    * anti-join against the edge set, TakeOrdered top-K.
    */
  def adamicAdar(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      topK: Int = 20,
      maxNeighborDegree: Int = 10000): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(maxNeighborDegree >= 2,
      s"maxNeighborDegree must be >= 2, got $maxNeighborDegree")
    val und = undirected(edges, srcCol, dstCol)
    val deg = und.groupBy(col("_g_a").as("_g_w"))
      .agg(count(lit(1)).as("_g_deg"))
      .filter(col("_g_deg") <= maxNeighborDegree)
    // (w, u) adjacency restricted to sub-cap intermediates, with the
    // 1/ln(deg) weight already attached — joined ONCE, reused both sides
    val adjW = und.select(col("_g_b").as("_g_w"), col("_g_a").as("_g_u"))
      .join(deg, Seq("_g_w"))
    val cand = adjW.select(col("_g_w"), col("_g_u"), col("_g_deg"))
      .join(adjW.select(col("_g_w"), col("_g_u").as("_g_v")), Seq("_g_w"))
      .filter(col("_g_u") < col("_g_v"))
    val term6 = (lit(1.0) / log(col("_g_deg").cast("double")))
      .cast("decimal(28,6)")
    val scored = cand
      .groupBy(col("_g_u"), col("_g_v"))
      .agg(count(lit(1)).as("n_common"), sum(term6).as("_g_s6"))
    val existing = und.filter(col("_g_a") < col("_g_b"))
      .select(col("_g_a").as("_g_u"), col("_g_b").as("_g_v"))
    scored
      .join(existing, Seq("_g_u", "_g_v"), "left_anti")
      .select(col("_g_u").as("u"), col("_g_v").as("v"), col("n_common"),
        col("_g_s6").cast("double").cast("decimal(28,6)").cast("double")
          .as("aa_score"))
      .orderBy(col("aa_score").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** Newman modularity Q of a GIVEN partition over an undirected graph
    * — the partition-quality score that says whether a clustering
    * (dup clusters, communities, shard assignments) actually follows
    * the graph's edge structure (Q ≈ 0: no better than random; Q ≳
    * 0.3: real community structure):
    *
    *   Q = Σ_c (e_c/m − (d_c/2m)²) = Σ_c (4m·e_c − d_c²) / 4m²
    *
    * (e_c = intra-community edges, d_c = total degree in c, m = edge
    * count) — computed as the EXACT integer numerator Σ(4m·e_c − d_c²)
    * in decimal(38,0) with ONE d6 division. Nodes missing from
    * `membership` form singleton communities (e_c = 0 contributions
    * still counted via their degrees).
    *
    * Scale shape: two broadcast-joins of the edge list onto the
    * membership frame, one community-keyed aggregate — no iteration
    * (this SCORES a partition; producing one is [[graft.pipeline
    * .TextDedup.dupClusters]]' job).
    */
  def modularity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      membership: DataFrame,
      nodeCol: String,
      communityCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val mem = membership.select(col(nodeCol).cast("string").as("_g_n"),
      col(communityCol).cast("string").as("_g_c"))
    // default community = the node itself (singleton)
    val labeled = und
      .join(mem.withColumnRenamed("_g_n", "_g_a")
        .withColumnRenamed("_g_c", "_g_ca"), Seq("_g_a"), "left")
      .join(mem.withColumnRenamed("_g_n", "_g_b")
        .withColumnRenamed("_g_c", "_g_cb"), Seq("_g_b"), "left")
      .select(
        coalesce(col("_g_ca"), col("_g_a")).as("_g_ca"),
        coalesce(col("_g_cb"), col("_g_b")).as("_g_cb"))
    // both directions present: Σ rows = 2m; intra-pair rows = 2·e_c
    val m2 = labeled.agg(count(lit(1)).as("_g_m2")) // = 2m
    val perC = labeled
      .groupBy(col("_g_ca"))
      .agg(count(lit(1)).as("_g_dc"), // total degree of community
        sum((col("_g_ca") === col("_g_cb")).cast("long")).as("_g_ec2"))
    val agg = perC.crossJoin(broadcast(m2))
      .agg(count(lit(1)).as("n_communities"),
        max(col("_g_m2")).as("_g_m2"),
        // numerator Σ_c (4m·e_c − d_c²) = Σ_c (2m·(2e_c) − d_c²)
        sum(dec(col("_g_m2")) * dec(col("_g_ec2")) -
          dec(col("_g_dc")) * dec(col("_g_dc"))).as("_g_num"))
    agg.select(
      (col("_g_m2") / lit(2L)).cast("long").as("n_edges"),
      col("n_communities"),
      d6(col("_g_num").cast("double") /
        (col("_g_m2").cast("double") * col("_g_m2").cast("double")))
        .as("modularity"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over every edge — positive: hubs attach to hubs
    * (social), negative: hubs attach to leaves (hub-and-spoke
    * infrastructure, star-shaped crawl graphs). Computed over the
    * DIRECTED double cover (each undirected edge contributes both
    * orderings, the standard symmetric treatment) with exact
    * decimal(38,0) sufficient sums and one d6 division.
    */
  def assortativity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val deg = und.groupBy(col("_g_a").as("_g_n"))
      .agg(count(lit(1)).as("_g_d"))
    val paired = und
      .join(deg.select(col("_g_n").as("_g_a"), col("_g_d").as("_g_x")),
        Seq("_g_a"))
      .join(deg.select(col("_g_n").as("_g_b"), col("_g_d").as("_g_y")),
        Seq("_g_b"))
    val agg = paired.agg(
      count(lit(1)).cast("decimal(38,0)").as("_n"),
      sum(dec(col("_g_x"))).as("_sx"), sum(dec(col("_g_y"))).as("_sy"),
      sum(dec(col("_g_x")) * dec(col("_g_y"))).as("_sxy"),
      sum(dec(col("_g_x")) * dec(col("_g_x"))).as("_sxx"),
      sum(dec(col("_g_y")) * dec(col("_g_y"))).as("_syy"))
    val cov = col("_n") * col("_sxy") - col("_sx") * col("_sy")
    val vx = col("_n") * col("_sxx") - col("_sx") * col("_sx")
    val vy = col("_n") * col("_syy") - col("_sy") * col("_sy")
    val guard = when(vx > 0 && vy > 0, (col("_n") / lit(2)).cast("long"))
      .otherwise(raise_error(lit(
        "assortativity: degree-regular graph has zero degree variance "
          + "(r undefined)")).cast("long"))
    agg.select(guard.as("n_edges"),
      d6(cov.cast("double") /
        sqrt(vx.cast("double") * vy.cast("double"))).as("assortativity"))
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007, made DETERMINISTIC): every node starts as its own
    * label; each round, every node adopts the most frequent label
    * among its neighbors, ties broken by the SMALLEST label; exactly
    * `iters` synchronous rounds. The community producer that
    * [[modularity]] scores and the connected-components dedup can't
    * replace (components merge everything reachable; LPA splits a
    * connected graph along its dense cores). Fixed iteration count +
    * min tie-break = bit-reproducible across engines, partitionings
    * and reruns (the classic async/random-tie LPA is neither).
    *
    * Output: (node, community, community_size), community = the
    * surviving label (a node id, STRING — the module's node key
    * form). A node KEEPS its current label when it TIES the
    * neighborhood mode's count (keep-current damping) — but a strict
    * 1-vs-0 majority still flips, so a degree-1 pendant PAIR swaps
    * labels each round (the documented synchronous-LPA artifact:
    * period-2 on dumbbells; identity at even `iters`). Dense cores —
    * the communities LPA exists for — settle in 2-3 rounds.
    *
    * Scale shape: per round ONE keyed join (labels onto edge dsts,
    * shuffles on node id), one (node, label) count aggregate
    * (map-side combinable) and one per-node ranking window;
    * checkpoint every round truncates the iteration lineage. Rounds
    * are bounded (`iters` ≤ 16 — LPA converges in a handful).
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 16,
      s"iters must be in [1,16], got $iters")
    val undBase = undirected(edges, srcCol, dstCol)
    // self-marker edges: the node's OWN label enters each round's race
    // at count 0 with a tie-winning flag — ONE labels reference per
    // round, so the oracle can replay the round inside a single
    // recursive-CTE arm
    val undx = Stage.materialize(
      undBase.withColumn("_g_s", lit(0L))
        .union(undBase.select(col("_g_a"), col("_g_a").as("_g_b"))
          .distinct().withColumn("_g_s", lit(1L))))
    var labels = undx.filter(col("_g_s") === 1L)
      .select(col("_g_a").as("_g_n"))
      .withColumn("_g_l", col("_g_n"))
    val W = org.apache.spark.sql.expressions.Window
    (1 to iters).foreach { _ =>
      val counts = undx
        .join(labels.select(col("_g_n").as("_g_b"), col("_g_l")),
          Seq("_g_b"))
        .groupBy(col("_g_a"), col("_g_l"))
        .agg(sum(lit(1L) - col("_g_s")).as("_g_c"),
          max(col("_g_s")).as("_g_cur"))
      val w = W.partitionBy(col("_g_a"))
        .orderBy(col("_g_c").desc, col("_g_cur").desc, col("_g_l").asc)
      labels = Stage.materialize(counts
        .withColumn("_g_r", row_number().over(w))
        .filter(col("_g_r") === 1)
        .select(col("_g_a").as("_g_n"), col("_g_l")))
    }
    val sizes = labels.groupBy(col("_g_l"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("_g_l"))
      .select(col("_g_n").as("node"), col("_g_l").as("community"),
        col("community_size"))
  }

  /** Katz centrality over the normalized transition matrix (Katz
    * 1953): c′(v) = β + α·Σ_{u→v} c(u)·p(u→v), run a FIXED `iters`
    * rounds from c₀ = β — the "influence through all walks,
    * geometrically damped by length" measure that ranks nodes a
    * plain degree count can't separate. Normalizing `weightCol` per
    * source (row-stochastic P, spectral radius 1) makes ANY α < 1
    * convergent — the classic Katz pitfall (α ≥ 1/λmax diverging on
    * the raw adjacency) is closed by construction, and the scaladoc
    * contract is honest: this is Katz on the TRANSITION matrix, the
    * "where does influence flow" variant, not raw-adjacency Katz.
    *
    * Differences from [[pageRank]] on purpose: no dangling
    * redistribution and no 1/N teleport — a node with no in-edges
    * holds exactly β (the additive prior), mass is NOT conserved,
    * and scores are absolute rather than a distribution. Same
    * execution discipline: per-round materialization truncates
    * lineage, scores′ left-joins the full node universe so in-edge-
    * less nodes never drop, weights validate non-negative via the
    * same observe() pass.
    *
    * Scale shape per round: one node-keyed join (scores ⋈ edges) +
    * one dst-keyed aggregate — nothing driver-side, N-free.
    */
  def katz(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iters: Int = 10,
      alpha: Double = 0.5,
      beta: Double = 1.0): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val perSrc = Window.partitionBy(col("_g_src"))
    val wObs = org.apache.spark.sql.Observation("graft_katz_weights")
    val w = Stage.materialize(edges.select(
        col(srcCol).as("_g_src"), col(dstCol).as("_g_dst"),
        col(weightCol).cast("double").as("_g_w"))
      .observe(wObs, min(col("_g_w")).as("min_w"))
      .withColumn("_g_sw", sum(col("_g_w")).over(perSrc))
      .filter(col("_g_sw") > 0.0)
      .withColumn("_g_p", col("_g_w") / col("_g_sw"))
      .select(col("_g_src"), col("_g_dst"), col("_g_p")))
    val minW = wObs.get("min_w")
    if (minW != null && minW.asInstanceOf[Double] < 0)
      throw new IllegalArgumentException(
        s"katz weights must be non-negative to normalize into " +
          s"transition probabilities; min($weightCol) = $minW")
    val nodes = Stage.materialize(
      edges.select(col(srcCol).as("node"))
        .union(edges.select(col(dstCol)))
        .distinct())
    var scores = Stage.materialize(nodes.withColumn("score", lit(beta)))
    var it = 0
    while (it < iters) {
      val contrib = scores
        .join(w, scores("node") === w("_g_src"))
        .groupBy(col("_g_dst"))
        .agg(sum(col("score") * col("_g_p")).as("_g_in"))
      val next = scores.select(col("node"))
        .join(contrib, scores("node") === contrib("_g_dst"), "left")
        .select(col("node"),
          (lit(beta) + lit(alpha) * coalesce(col("_g_in"), lit(0.0)))
            .as("score"))
      scores = Stage.materialize(next)
      it += 1
    }
    scores.select(col("node"), col("score").as("katz"))
  }

  /** Harmonic centrality over unweighted directed hops (Marchiori &
    * Latora 2000): H(v) = Σ_{u≠v} 1/d(u → v) — the closeness variant
    * that stays defined on DISCONNECTED graphs (unreachable pairs
    * contribute 0 instead of poisoning an average). "Which state can
    * the rest of the system reach fastest" — the flow-convergence
    * rank beside [[pageRank]]'s stationary mass.
    *
    * BOUNDED-GRAPH BY CONTRACT: the distance frame is O(N²) and the
    * loop runs a fixed `maxRounds` (must be ≥ the diameter of
    * interest; longer paths simply don't contribute) — a loud
    * in-plan maxNodes guard keeps a corpus-sized edge list from
    * silently building an N² frame; use pageRank/kCore for big
    * graphs. Determinism: hop distances are exact integer BFS levels
    * via min-plus rounds (each materialized — the pageRank loop
    * discipline); each 1/d term is one d6 before the decimal sum,
    * H one more.
    */
  def harmonicCentrality(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRounds: Int = 8,
      maxNodes: Long = 4096L): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64,
      s"maxRounds in [1,64], got $maxRounds")
    require(maxNodes >= 2L && maxNodes <= 100000L,
      s"maxNodes in [2,1e5], got $maxNodes")
    val e0 = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"))
      .filter(col("_s") =!= col("_d")).distinct()
    val nodes = e0.select(col("_s").as("node"))
      .union(e0.select(col("_d"))).distinct()
    // fast refusal (the hoeffdingsD r17 treatment, VERDICT r17 #4):
    // the node count comes from a DISTRIBUTED aggregate (1-row
    // broadcast) and the raise rides the consumed column, so an
    // oversized graph refuses at the map side — the old form counted
    // through a single-partition window ON THE REFUSAL PATH
    val cnt = nodes.agg(count(lit(1)).as("_nn"))
    val guarded = Stage.materialize(nodes.crossJoin(broadcast(cnt))
      .select(when(col("_nn") <= maxNodes, col("node"))
        .otherwise(raise_error(concat(lit("harmonicCentrality: "),
          col("_nn").cast("string"),
          lit(s" nodes > maxNodes=$maxNodes — the distance frame is " +
            "O(N^2); use pageRank/kCore at graph scale")))
          .cast(nodes.schema("node").dataType)).as("node")))
    val e = Stage.materialize(e0.join(guarded,
      e0("_s") === guarded("node")).select(col("_s"), col("_d")))
    var dist = Stage.materialize(e.select(col("_s"), col("_d"),
      lit(1L).as("_h")))
    var r = 1
    while (r < maxRounds) {
      val ext = dist.join(e.select(col("_s").as("_mid"),
          col("_d").as("_nd")), dist("_d") === col("_mid"))
        .filter(col("_s") =!= col("_nd"))
        .select(col("_s"), col("_nd").as("_d"),
          (col("_h") + lit(1L)).as("_h"))
      dist = Stage.materialize(dist.union(ext)
        .groupBy(col("_s"), col("_d"))
        .agg(min(col("_h")).as("_h")))
      r += 1
    }
    val contrib = dist
      .select(col("_d").as("node"),
        d28(d6(lit(1.0) / col("_h").cast("double"))).as("_t"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_reachable"),
        sum(col("_t")).as("_hsum"))
    guarded.join(contrib, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_reachable"), lit(0L)).as("n_reachable"),
        d6(coalesce(col("_hsum"), lit(0).cast("decimal(28,6)"))
          .cast("double")).as("harmonic"))
  }

  /** Bipartite projection: collapse a (left, right) membership frame
    * onto the RIGHT vertex set — item–item (tag–tag, day–day) edges
    * weighted by shared left-members, with the three standard
    * normalizations (overlap = co/min(d_a,d_b), cosine = co/√(d_a·d_b),
    * Jaccard = co/(d_a+d_b−co)) — the co-occurrence graph behind
    * "related items"/topic-affinity readouts, built without ever
    * materializing the full incidence matrix.
    *
    * The pair generator is the membership SELF-JOIN on the left key —
    * fan-out deg(left)² per member, the classic projection hot spot —
    * so left degree is guarded LOUDLY by `maxLeftDegree` (the dtw
    * discipline: a corpus-cardinality left key must be bucketed by the
    * caller, not silently exploded). Co-counts and degrees are exact
    * longs off DISTINCT memberships; each normalization is one exact
    * rational (√ via IEEE double) → ONE d6. Output one row per
    * unordered item pair with ≥ 1 shared member: (item_a, item_b,
    * co_count, deg_a, deg_b, overlap, cosine, jaccard).
    *
    * Scale shape: one distinct, one degree aggregate, one left-keyed
    * equi-join (bounded by the guard), one pair-keyed aggregate, two
    * broadcast-sized degree joins.
    */
  def bipartiteProject(
      df: DataFrame,
      leftCol: String,
      rightCol: String,
      maxLeftDegree: Int = 1000): DataFrame = {
    require(maxLeftDegree >= 2, s"maxLeftDegree >= 2, got $maxLeftDegree")
    val m = df.select(col(leftCol).cast("string").as("_l"),
      col(rightCol).cast("string").as("_r")).distinct()
    val ldeg = m.groupBy(col("_l")).agg(count(lit(1)).as("_ld"))
    val guarded = m.join(ldeg, Seq("_l"))
      .withColumn("_r",
        when(col("_ld") <= maxLeftDegree, col("_r"))
          .otherwise(raise_error(concat(
            lit("bipartiteProject: left member "), col("_l"),
            lit(" has degree "), col("_ld").cast("string"),
            lit(s" > maxLeftDegree=$maxLeftDegree — the pair stage is " +
              "deg² per member; bucket the left key or raise the " +
              "bound"))).cast("string")))
      .select(col("_l"), col("_r"))
    val rdeg = m.groupBy(col("_r")).agg(count(lit(1)).as("_rd"))
    val pairs = guarded.select(col("_l"), col("_r").as("item_a"))
      .join(guarded.select(col("_l"), col("_r").as("item_b")), Seq("_l"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("co_count"))
    pairs
      .join(rdeg.select(col("_r").as("item_a"), col("_rd").as("deg_a")),
        Seq("item_a"))
      .join(rdeg.select(col("_r").as("item_b"), col("_rd").as("deg_b")),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("co_count"),
        col("deg_a"), col("deg_b"),
        d6(col("co_count").cast("double") /
          least(col("deg_a"), col("deg_b")).cast("double")).as("overlap"),
        d6(col("co_count").cast("double") /
          sqrt(col("deg_a").cast("double") * col("deg_b").cast("double")))
          .as("cosine"),
        d6(col("co_count").cast("double") /
          (col("deg_a") + col("deg_b") - col("co_count")).cast("double"))
          .as("jaccard"))
  }

  /** Directed-graph reciprocity and dyad census: how often a directed
    * relation is returned — r = |E ∩ Eᵀ|/|E| over the distinct
    * self-loop-free edge set, plus the mutual/asymmetric dyad counts
    * (Holland & Leinhardt 1976 minus the null dyads, which need the
    * vertex count and carry no edge information). The
    * follower-graph/hand-off health check: r ≈ 0 is broadcast, r ≈ 1
    * is conversation.
    *
    * Determinism: all counts are exact longs off one distinct edge
    * frame; the reverse test is ONE self-equi-join on the flipped
    * key; r is one exact rational → ONE d6. An empty edge set answers
    * NULL r. Output ONE row: (n_edges, n_mutual_edges,
    * n_mutual_dyads, n_asym_dyads, reciprocity).
    */
  def reciprocity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("string").as("_s"),
        col(dstCol).cast("string").as("_d"))
      .filter(col("_s") =!= col("_d"))
      .distinct()
    val mutual = e.join(
      e.select(col("_d").as("_s"), col("_s").as("_d")),
      Seq("_s", "_d"), "left_semi")
    val agg = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(mutual.agg(count(lit(1)).as("n_mutual_edges")))
    agg.select(col("n_edges"), col("n_mutual_edges"),
      (col("n_mutual_edges") / lit(2)).cast("long").as("n_mutual_dyads"),
      (col("n_edges") - col("n_mutual_edges")).as("n_asym_dyads"),
      when(col("n_edges") > 0L,
        d6(col("n_mutual_edges").cast("double") /
          col("n_edges").cast("double"))).as("reciprocity"))
  }

  /** Rich-club coefficient ladder (Zhou & Mondragón 2004): for each
    * degree threshold k, φ(k) = 2·E_{>k}/(N_{>k}·(N_{>k}−1)) — the
    * density of the subgraph induced by nodes of degree > k. A rising
    * φ ladder means the hubs wire to each other (the "rich club"):
    * the crawl-graph / co-purchase concentration diagnostic that
    * degree distribution alone can't see.
    *
    * Determinism: degrees and both counts are exact longs; the whole
    * ladder is computed in ONE pass — the threshold list is a code
    * literal, so N_k and E_k are conditional sums inside single
    * aggregates, unpivoted in-plan (no per-k scan). φ is one exact
    * rational → ONE d6; N_k < 2 answers NULL φ. Output one row per
    * k: (k, n_rich_nodes, n_rich_edges, phi).
    *
    * Scale shape: degree aggregate + one pair-frame join to degrees
    * + TWO one-row conditional aggregates + an in-plan unpivot.
    */
  def richClub(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      ks: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 0), s"bad ladder $ks")
    require(ks.distinct.size == ks.size, "ladder must be distinct")
    val und = undirected(edges, srcCol, dstCol)
    val deg = und.groupBy(col("_g_a").as("node"))
      .agg(count(lit(1)).as("_deg"))
    val pairs = und.filter(col("_g_a") < col("_g_b"))
      .join(deg.select(col("node").as("_g_a"), col("_deg").as("_da")),
        Seq("_g_a"))
      .join(deg.select(col("node").as("_g_b"), col("_deg").as("_db")),
        Seq("_g_b"))
    val nCols = ks.map(k =>
      sum((col("_deg") > k).cast("long")).as(s"_n$k"))
    val eCols = ks.map(k =>
      sum((least(col("_da"), col("_db")) > k).cast("long")).as(s"_e$k"))
    val nAgg = deg.agg(nCols.head, nCols.tail: _*)
    val eAgg = pairs.agg(eCols.head, eCols.tail: _*)
    val rows = ks.map { k =>
      struct(lit(k).as("k"), col(s"_n$k").as("n"), col(s"_e$k").as("e"))
    }
    nAgg.crossJoin(eAgg)
      .select(explode(array(rows: _*)).as("_r"))
      .select(col("_r.k").as("k"),
        col("_r.n").as("n_rich_nodes"),
        col("_r.e").as("n_rich_edges"),
        when(col("_r.n") >= 2L,
          d6(lit(2.0) * col("_r.e").cast("double") /
            (col("_r.n") * (col("_r.n") - 1L)).cast("double")))
          .as("phi"))
  }

  /** k-truss decomposition membership (Cohen 2008): iteratively peel
    * EDGES supported by fewer than k−2 triangles until stable — the
    * edge-grade refinement of [[kCore]] (every k-truss edge sits in a
    * (k−1)-core, never vice versa): cores find dense NEIGHBORHOODS,
    * trusses find dense RELATIONSHIPS, which is what community-seed
    * and spam-ring mining actually want. Output: the surviving
    * edges with their within-truss support.
    *
    * Execution follows the [[kCore]] loop discipline exactly: the
    * a<b edge frame is materialized per round (lineage-truncated);
    * each round counts common neighbors through ONE triangle join
    * (edge frame × symmetric adjacency × symmetric adjacency on the
    * shared endpoint) and peels; the only driver-side value is the
    * edge COUNT. `maxRounds` bounds pathological peel chains loudly.
    */
  def kTruss(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 50): DataFrame = {
    require(k >= 3, s"k must be >= 3 (k=2 keeps every edge), got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    def support(e: DataFrame): DataFrame = {
      val sym = e.select(col("_g_a").as("_x"), col("_g_b").as("_w"))
        .union(e.select(col("_g_b"), col("_g_a")))
      e.join(sym.select(col("_x").as("_g_a"), col("_w")), Seq("_g_a"))
        .join(sym.select(col("_x").as("_g_b"), col("_w")), Seq("_g_b", "_w"))
        .groupBy(col("_g_a"), col("_g_b"))
        .agg(count(lit(1)).as("_supp"))
    }
    var e = Stage.materialize(
      undirected(edges, srcCol, dstCol).filter(col("_g_a") < col("_g_b")))
    var n = e.count()
    var rounds = 0
    var stable = n == 0L
    while (!stable) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"kTruss: not stable after $maxRounds peel rounds " +
            s"($n edges alive) — raise maxRounds")
      val next = Stage.materialize(
        e.join(support(e).filter(col("_supp") >= k - 2),
          Seq("_g_a", "_g_b"), "left_semi"))
      val m = next.count()
      if (m == n) stable = true
      else { e = next; n = m }
      if (n == 0L) stable = true
    }
    e.join(support(e), Seq("_g_a", "_g_b"), "left")
      .select(col("_g_a").as("a"), col("_g_b").as("b"),
        coalesce(col("_supp"), lit(0L)).as("support"))
  }

  /** Loud bucket-occupancy guard shared by [[coBucketEdges]] and
    * [[handoffEdges]]: a bucket holding m keys feeds m²/2 (same-bucket)
    * or m·m' (adjacent-bucket) candidate pairs into the generator's
    * self-join — the occupancy-quadratic hazard class ([[dtw]]'s
    * `maxKeys` / [[bipartiteProject]]'s `maxLeftDegree` discipline).
    * In guard mode the `raise_error` rides the BUCKET column itself —
    * the pair join's equi-key, which Catalyst therefore cannot prune —
    * so a hot bucket raises BEFORE any pair forms. In prune mode
    * (`pruneHot = true`, the [[graft.pipeline.TextDedup.jaccardPairs]]
    * df-prune discipline) buckets above the cap are DROPPED from pair
    * generation entirely: capped output ⊆ full output, per-bucket pair
    * work is hard-bounded by maxBucketKeys²/2, and the drop is
    * observable (the guard-mode twin raises on the same input).
    * Input/output columns (_k, _b).
    */
  private def guardOccupancy(
      m: DataFrame,
      maxBucketKeys: Int,
      pruneHot: Boolean,
      opName: String): DataFrame = {
    val occ = m.groupBy(col("_b")).agg(count(lit(1)).as("_occ"))
    if (pruneHot)
      m.join(occ.filter(col("_occ") <= maxBucketKeys).select(col("_b")),
        Seq("_b"), "left_semi")
    else {
      val bType = m.schema("_b").dataType.catalogString
      m.join(occ, Seq("_b"))
        .select(
          when(col("_occ") <= maxBucketKeys, col("_b"))
            .otherwise(raise_error(concat(
              lit(s"$opName: bucket "), col("_b").cast("string"),
              lit(" holds "), col("_occ").cast("string"),
              lit(s" keys > maxBucketKeys=$maxBucketKeys — the pair " +
                "stage is occupancy-quadratic per bucket; prune hot " +
                "buckets (pruneHot=true), coarsen the bucket key, or " +
                "raise the bound"))).cast(bType)).as("_b"),
          col("_k"))
    }
  }

  /** Same-bucket co-occurrence pair generator: an undirected edge
    * (key_a < key_b) between keys observed in the same bucket, weighted
    * by the number of distinct shared buckets and kept at
    * `n_shared ≥ minCount` — the generic build behind co-purchase /
    * co-session / co-crawl fixture graphs (two users purchasing in the
    * same 6-hour window, two documents fetched in the same crawl
    * cycle).
    *
    * The pair stage is a bucket-keyed SELF-JOIN: a bucket with m
    * distinct keys emits m·(m−1)/2 pairs, so one hot bucket (a
    * flash-sale hour) goes quadratic silently at scale — exactly the
    * hazard the r15 sidecar measured at 57.2× / 581.8 MB max-task
    * shuffle when user density grew 10× on a fixed time axis. Bucket
    * occupancy is therefore guarded LOUDLY by `maxBucketKeys` (in-plan,
    * riding the join key, before any pair forms) or df-pruned with
    * `pruneHot` — see [[guardOccupancy]]. Counts are exact longs off
    * the DISTINCT (key, bucket) frame.
    *
    * Scale shape: one distinct, one bucket-count aggregate (broadcast
    * back), one bucket-keyed equi-join bounded by the guard, one
    * pair-keyed aggregate. Output: (key_a, key_b, n_shared).
    */
  def coBucketEdges(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      minCount: Int = 1,
      maxBucketKeys: Int = 1000,
      pruneHot: Boolean = false): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(maxBucketKeys >= 2, s"maxBucketKeys >= 2, got $maxBucketKeys")
    val m = df.select(col(keyCol).as("_k"), col(bucketCol).as("_b"))
      .distinct()
    val g = guardOccupancy(m, maxBucketKeys, pruneHot, "coBucketEdges")
    g.select(col("_b"), col("_k").as("key_a"))
      .join(g.select(col("_b"), col("_k").as("key_b")), Seq("_b"))
      .filter(col("key_a") < col("key_b"))
      .groupBy(col("key_a"), col("key_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minCount)
  }

  /** Adjacent-bucket hand-off pair generator: a DIRECTED edge
    * src → dst when src is observed in bucket b and dst in bucket b+1
    * (self hand-offs dropped), weighted by the number of distinct
    * hand-offs and kept at `n_handoffs ≥ minCount` — [[coBucketEdges]]'s
    * temporal-sequence sibling (who follows whom across purchase
    * windows / crawl cycles).
    *
    * Same occupancy hazard, adjacent form: buckets with m and m′ keys
    * emit m·m′ candidate pairs, so the same loud `maxBucketKeys` guard
    * (or `pruneHot` df-prune) bounds the join — see [[guardOccupancy]].
    * The bucket column must be integral (b+1 is the adjacency).
    *
    * Scale shape: identical to [[coBucketEdges]] with the equi-key
    * shifted on one side. Output: (src, dst, n_handoffs).
    */
  def handoffEdges(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      minCount: Int = 1,
      maxBucketKeys: Int = 1000,
      pruneHot: Boolean = false): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(maxBucketKeys >= 2, s"maxBucketKeys >= 2, got $maxBucketKeys")
    val m = df.select(col(keyCol).as("_k"),
      col(bucketCol).cast("long").as("_b")).distinct()
    val g = guardOccupancy(m, maxBucketKeys, pruneHot, "handoffEdges")
    g.select(col("_b"), col("_k").as("src"))
      .join(g.select((col("_b") - lit(1L)).as("_b"), col("_k").as("dst")),
        Seq("_b"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_handoffs"))
      .filter(col("n_handoffs") >= minCount)
  }
}
