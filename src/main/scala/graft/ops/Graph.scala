package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Link-graph analytics for corpus curation. PageRank is the classic
  * source-quality signal (rank hosts by who links to them — the
  * CommonCrawl-style prior that feeds domain mixture weights, q69) and
  * the repo's representative ITERATIVE graph operator next to the
  * one-shot pointer-jumping of connected components (ops/Dedup.scala).
  *
  * 100 TB shape: the edge list is the big frame and it is touched once
  * per iteration by an equi-join on `src` — edges repartition by src
  * ONCE up front (and pin), so every iteration reuses the same
  * partitioning and only the node-sized rank frame shuffles. The
  * transpose aggregation (sum contributions by dst) is the unavoidable
  * per-iteration shuffle, sized by nodes, not edges, after partial
  * aggregation. Rank lineage is cut with an eager localCheckpoint every
  * iteration — the standard guard against the exponential-plan blowup
  * of iterative DataFrame algorithms. Dangling mass (nodes with no
  * out-edges) redistributes uniformly, so total rank stays exactly 1
  * and fixed-iteration results are comparable across engines.
  */
object Graph {

  /** Canonical undirected edge list: (a, b) with a < b, self-loops and
    * duplicates dropped, PINNED — every consumer (degrees, orientation,
    * closure probes, anti-joins) reuses one materialization instead of
    * re-running the caller's edge derivation.
    */
  private def canonEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = edges
    .select(least(col(srcCol), col(dstCol)).as("a"),
      greatest(col(srcCol), col(dstCol)).as("b"))
    .where(col("a") =!= col("b"))
    .distinct()
    .localCheckpoint(true)

  /** Triangle corners (u, v, w) of the oriented adjacency, one
    * row per triangle with u ≺ v ≺ w in the orienting (degree, id)
    * order — the EDGE-ITERATOR device (Schank & Wagner 2005's
    * forward/edge-iterator, arrays flavor): collect each pivot's
    * out-neighborhood once (hash aggregate, no sort), then every
    * oriented edge (u,v) intersects N⁺(u) with N⁺(v) in-row. Each
    * triangle a≺b≺c appears EXACTLY once, at edge (a,b) with w = c:
    * c ∈ N⁺(a) ∩ N⁺(b) by the orientation, while edges (a,c)/(b,c)
    * can't re-find it (b ∉ N⁺(c), a ∉ N⁺(b) — ≺ is total).
    *
    * This replaces the former wedge pipeline (pivot self-join →
    * Bloom probe → closing equi-join on the edge set): the wedge
    * stream — Σ C(d⁺,2) rows, 34× the edge count on the co-purchase
    * graph — never materializes as ROWS (its per-row hash+Bloom work
    * and the closing sort-merge join are gone), but shuffle BYTES stay
    * wedge-sized: the second array join ships N⁺(u) with every edge
    * row, Σ d⁺(u)² elements. What remains is two edge-row array joins
    * and a per-row intersect bounded by 2·d⁺_max = O(√m) (the
    * degree-orientation rail), which AQE's skew splitting can divide
    * freely because rows are independent. The neighbor-array frame is
    * referenced twice in ONE plan, so exchange reuse dedups its
    * aggregate (the kCore lesson) — no pin. */
  private def triangleCorners(oriented: DataFrame): DataFrame = {
    val arrs = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("__vs"))
    oriented
      .join(arrs.select(col("u"), col("__vs").as("__nu")), Seq("u"))
      .join(arrs.select(col("u").as("v"), col("__vs").as("__nv")),
        Seq("v"))
      .select(col("u"), col("v"),
        explode(array_intersect(col("__nu"), col("__nv"))).as("w"))
  }

  /** Node degrees of a canonical edge frame: (n, d). */
  private def degrees(canon: DataFrame): DataFrame = canon
    .select(col("a").as("n"))
    .unionAll(canon.select(col("b").as("n")))
    .groupBy(col("n")).agg(count(lit(1)).as("d"))

  /** Orient each canonical edge by (degree, id): u -> v iff
    * (d_u, u) < (d_v, v) — out-degree O(sqrt m) on any graph, so no hub
    * mints d^2 wedges on one reducer. NOT pinned: every consumer reads
    * it inside ONE plan (the [[triangleCorners]] joins), where exchange
    * reuse dedups the degree joins — a pin only added a scheduled
    * materialization job per enumeration (measured: dropping it cut
    * q191 1.11 → 0.73 s and q238 3.20 → 2.93 s paired, q177 flat).
    * `deg` must carry columns (n, d); `canon` must be pinned (it is:
    * [[canonEdges]] checkpoints), keeping lineage flat under kTruss's
    * per-round re-enumeration.
    */
  private def orientEdges(canon: DataFrame, deg: DataFrame): DataFrame = {
    val lower = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("a") < col("b"))
    canon
      .join(deg.select(col("n").as("a"), col("d").as("__da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("__db")), Seq("b"))
      .select(when(lower, col("a")).otherwise(col("b")).as("u"),
        when(lower, col("b")).otherwise(col("a")).as("v"))
  }

  /** Fixed-iteration PageRank over a directed edge list.
    *
    * @param edges  one row per directed edge; multi-edges count once if
    *               the caller dedups (this operator takes the frame
    *               as-is so weighted variants stay possible)
    * @return (node, pr) for every node appearing as src or dst;
    *         sum(pr) == 1 up to float addition
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, None, iterations, damping,
      tolerance = 0.0)

  /** Personalized (seeded) PageRank — TrustRank's machinery (Gyöngyi,
    * Garcia-Molina & Pedersen 2004): teleport mass lands ONLY on the
    * seed set (uniformly over the seeds that appear in the graph), and
    * dangling mass returns to the seeds too, so total rank stays
    * exactly 1. Rank then measures proximity-weighted endorsement FROM
    * the seeds — the link-quality prior a curation pipeline computes
    * from a hand-vetted domain whitelist (the q152 link graph's
    * consumer). Uniform PageRank is the special case seeds = all
    * nodes, which is literally how it is implemented here: one `__seed`
    * flag folded into the node frame at setup, zero per-iteration cost
    * over the uniform path.
    *
    * Initial rank is the teleport vector itself (1/|S| on seeds, 0
    * elsewhere) — the standard personalization convention, documented
    * because fixed-iteration results depend on it.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String, iterations: Int,
      damping: Double = 0.85): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, None, iterations, damping,
      tolerance = 0.0, seeds = Some((seeds, seedCol)))

  /** Weighted PageRank: contributions split proportionally to edge
    * weight instead of uniformly over out-edges (`outdeg` becomes the
    * node's out-weight sum). Non-positive weights are rejected — a
    * zero-weight edge is "no edge" and a negative one has no random-surfer
    * reading; dropping them silently would desynchronize `nodes`.
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int, damping: Double = 0.85): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, Some(weightCol), iterations, damping,
      tolerance = 0.0)

  /** Tolerance-stopped PageRank: iterate until the L1 rank delta
    * `sum |pr_i - pr_{i-1}|` falls below `tolerance` (or `maxIterations`
    * is hit). The delta rides the SAME job that materializes the new
    * rank frame — an `observe()` metric on the checkpoint pass, exactly
    * the CC convergence-probe pattern (ops/Dedup.scala) — so the stop
    * check adds zero extra scans; the price is the previous rank joined
    * into every iteration's checkpoint pass, and a checkpoint on the
    * final iteration too, which the fixed-iteration path leaves to the
    * caller's action.
    */
  def pageRankConverged(edges: DataFrame, srcCol: String, dstCol: String,
      tolerance: Double, maxIterations: Int = 50, damping: Double = 0.85,
      weightCol: Option[String] = None): DataFrame = {
    require(tolerance > 0, "pageRankConverged: tolerance must be positive")
    require(maxIterations >= 1 && maxIterations <= 100,
      "pageRankConverged: maxIterations must be in [1,100] — the loop " +
        "checkpoints every iteration, so a runaway tolerance is bounded " +
        "by this cap rather than by wall-clock")
    pageRankImpl(edges, srcCol, dstCol, weightCol, maxIterations, damping,
      tolerance = tolerance)
  }

  private def pageRankImpl(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String], iterations: Int, damping: Double,
      tolerance: Double, seeds: Option[(DataFrame, String)] = None): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      "pageRank: iterations must be in [1,100]")
    require(damping > 0 && damping < 1, "pageRank: damping must be in (0,1)")

    // edge frame partitioned by src once; every iteration's rank join
    // reuses this layout
    val e = edges.select(col(srcCol).as("src") +: col(dstCol).as("dst") +:
        weightCol.map(w => col(w).cast("double").as("w")).toSeq: _*)
      .repartition(col("src"))
      .localCheckpoint(true)
    weightCol.foreach { w =>
      // NaN must be rejected explicitly: `NaN <= 0` is false in SQL, so
      // without the isnan check a NaN weight slips through and poisons
      // every downstream outdeg sum (and hence every rank) to NaN
      require(e.filter(col("w").isNull || col("w") <= 0 || isnan(col("w")))
          .isEmpty,
        s"pageRankWeighted: weight column '$w' must be positive, finite " +
          "and non-null")
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    // uniform: out-degree; weighted: out-weight mass — either way the
    // per-edge contribution is pr * share / outdeg. deg is consumed
    // only at setup (the per-edge ratio folds into the pinned edge
    // frame below; the has-out flag folds into the node frame).
    val deg = e.groupBy(col("src"))
      .agg(weightCol.map(_ => sum(col("w")))
        .getOrElse(count(lit(1)).cast("double")).as("outdeg"))
      .localCheckpoint(true)
    // share/outdeg is iteration-invariant — fold it into the edge frame
    // ONCE at setup instead of re-joining deg every iteration (one join
    // × iterations saved; the loop's only per-iteration join is then
    // edge ⋈ rank on the pinned src layout).
    val ec = e.join(deg, "src")
      .select(col("src"), col("dst"),
        (weightCol.map(_ => col("w")).getOrElse(lit(1.0)) /
          col("outdeg")).as("cshare"))
      .repartition(col("src"))
      .localCheckpoint(true)
    // nodes carrying a STATIC has-out-edges flag: the dangling-mass
    // reduction then reads the flag the rank frame already carries
    // instead of anti-joining pr against deg every iteration (one
    // node-sized join x iterations saved; deg itself is consumed only
    // at setup now).
    // teleport membership rides the node frame like __out does: uniform
    // PageRank is "every node is a seed", personalized restricts the
    // flag to the seed ∩ graph intersection — zero per-iteration cost
    // either way
    val nodesF = seeds match {
      case Some((sdf, scol)) =>
        nodes
          .join(deg.select(col("src").as("node"), lit(true).as("__out")),
            Seq("node"), "left")
          .join(sdf.select(col(scol).as("node"), lit(true).as("__seed"))
            .distinct(), Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__out"), lit(false)).as("__out"),
            coalesce(col("__seed"), lit(false)).as("__seed"))
          .localCheckpoint(true)
      case None =>
        nodes
          .join(deg.select(col("src").as("node"), lit(true).as("__out")),
            Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__out"), lit(false)).as("__out"),
            lit(true).as("__seed"))
          .localCheckpoint(true)
    }
    // Node count as a driver literal: a single bounded count() at setup.
    // (This used to be a 1-row broadcast frame crossJoined into every
    // iteration — but each extra reference to an iteration-carried frame
    // multiplies into Catalyst's size estimate, and those products
    // compound exponentially across iterations; see
    // GraftSqlShim.freshStats.)
    val n = nodes.count().toDouble
    // teleport denominator: |seed ∩ graph| (== n over the uniform path —
    // one bounded count either way)
    val nTel = if (seeds.isEmpty) n
      else nodesF.filter(col("__seed")).count().toDouble
    // only the seeded path requires intersection: the uniform path keeps
    // its historical empty-graph convention (empty in -> empty out)
    require(seeds.isEmpty || nTel > 0,
      "personalizedPageRank: no seed node appears in the graph")
    // rank lineage cuts must ALSO reset the carried size estimate, or the
    // per-iteration join products compound through the checkpoint until
    // Catalyst's BigInt stats arithmetic overflows (observed at ~25
    // iterations on the converged path)
    def cut(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftSqlShim.freshStats(df.localCheckpoint(true))

    // Dangling mass travels as a DRIVER LITERAL, not a per-iteration
    // 1-row subquery: the old `pr.filter(!__out).agg(sum)` branch cost
    // every iteration a scan-aggregate stage plus a broadcast build —
    // under AQE, two extra scheduled jobs per iteration of a node-sized
    // frame (guide §2.4: remove work from the loop, the per-stage floor
    // is the local cost; at scale it is one fewer pass over the rank
    // frame per iteration). dm for iteration i+1 = Σ pr_i over dangling
    // nodes rides iteration i's OWN checkpoint job as an observe()
    // metric; only the initial vector pays a dedicated (bounded,
    // node-sized) aggregate. The sum folds in DECIMAL(38,18) so the
    // metric is task-order-invariant (accumulator merges arrive in
    // completion order; a double fold there would wobble at 1 ulp).
    val dmExpr = sum(when(!col("__out"), col("pr"))
      .otherwise(lit(0.0)).cast("decimal(38,18)")).as("__dm")
    def dmOf(m: Any): Double = m match {
      case null => 0.0
      case d: java.math.BigDecimal => d.doubleValue()
      case d: BigDecimal => d.doubleValue
      case other => other.toString.toDouble
    }

    // initial rank = the teleport vector (1/|S| on seeds, 0 elsewhere);
    // over the uniform path this is exactly the historical 1/n
    var pr = nodesF.select(col("node"),
      when(col("__seed"), lit(1.0 / nTel)).otherwise(lit(0.0)).as("pr"),
      col("__out"))
    var dm = {
      val r = pr.filter(!col("__out"))
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("dm")).head()
      r.getDouble(0)
    }
    var i = 1
    var converged = false
    while (i <= iterations && !converged) {
      val contrib = ec.join(pr.select(col("node"), col("pr")),
          ec("src") === col("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") * col("cshare")).as("c"))
      // teleport AND dangling mass both land on the seed set only
      // (uniform path: every node — the same doubles as before)
      val stepped = nodesF.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (when(col("__seed"), lit((1.0 - damping) / nTel))
            .otherwise(lit(0.0)) +
            lit(damping) * (coalesce(col("c"), lit(0.0)) +
              when(col("__seed"), lit(dm / nTel))
                .otherwise(lit(0.0)))).as("pr"),
          col("__out"))
      if (tolerance > 0) {
        // join the previous rank in so the L1 delta is observable on the
        // materializing pass itself (no second scan; prev is node-sized,
        // same probe-rides-the-checkpoint pattern as the CC loop)
        val obs = org.apache.spark.sql.Observation()
        val pinned = cut(stepped.join(
            pr.select(col("node"), col("pr").as("__prev")), Seq("node"))
          .observe(obs, sum(abs(col("pr") - col("__prev"))).as("l1"),
            dmExpr)
          .drop("__prev")) // eager checkpoint runs the job, fires the metric
        pr = pinned
        dm = dmOf(obs.get("__dm"))
        val l1 = obs.get("l1")
        // null l1 = zero rows = empty graph: trivially converged (the
        // Dedup convergence-probe convention) — otherwise an empty input
        // would spin maxIterations of empty jobs
        if (l1 == null || l1.asInstanceOf[Double] < tolerance)
          converged = true
      } else if (i < iterations) {
        // checkpoint EVERY iteration: the pin is one job, and it is the
        // pass the next iteration's dm metric must ride anyway (the old
        // every-2nd cadence saved a pin but paid the dangling subquery
        // and re-planned the unpinned iteration's lineage twice)
        val obs = org.apache.spark.sql.Observation()
        pr = cut(stepped.observe(obs, dmExpr))
        dm = dmOf(obs.get("__dm"))
      } else {
        pr = stepped // final iteration: the caller's action materializes it
      }
      i += 1
    }
    pr.drop("__out")
  }

  /** Exact triangle count of an UNDIRECTED graph, given as a directed /
    * multi / possibly self-looped edge list (cleaned here: self-loops
    * drop, (a,b)/(b,a)/duplicates collapse to one canonical a<b edge).
    * Returns one row: (n_nodes, n_edges, n_triangles).
    *
    * Algorithm: degree orientation — each canonical edge is directed
    * from the endpoint that is SMALLER under (degree, id) order to the
    * larger, which bounds every node's out-degree by O(√m) on any graph
    * (the classic distributed triangle device; a hub of degree d would
    * otherwise mint d² wedges and its reducer becomes the straggler —
    * this is why the count doesn't enumerate wedges on the raw
    * adjacency). Wedges stream out of the per-pivot neighbor arrays
    * ([[orientedWedges]] — no self-join, no sort); each wedge (v,w)
    * probes the canonical edge set once. Two shuffles over edge-sized
    * frames, one over the wedge frame; counts fold map-side. Every
    * triangle is counted exactly once because the (degree, id) order
    * is total.
    */
  def triangleCount(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val canon = canonEdges(edges, srcCol, dstCol)
    val deg = degrees(canon)
    val oriented = orientEdges(canon, deg)
    // the count specializes [[triangleCorners]]: per oriented edge the
    // intersection SIZE folds straight into the sum — no corner rows
    // (coalesce: sum over an empty/triangle-free frame is null, the
    // count is 0)
    val arrs = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("__vs"))
    val triangles = oriented
      .join(arrs.select(col("u"), col("__vs").as("__nu")), Seq("u"))
      .join(arrs.select(col("u").as("v"), col("__vs").as("__nv")),
        Seq("v"))
      .agg(coalesce(sum(size(array_intersect(col("__nu"), col("__nv")))
        .cast("long")), lit(0L)).as("n_triangles"))
    val stats = canon.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
    stats.crossJoin(broadcast(triangles))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** Per-edge triangle support over a pinned canonical edge frame:
    * (a, b, support) for every edge in ≥1 triangle — the shared kernel
    * of [[kTruss]]; enumeration reuses [[triangleCount]]'s
    * degree-oriented pivot device (no hub mints d² wedges on one
    * reducer), each triangle crediting its three canonical edges. */
  private def edgeSupport(canon: DataFrame): DataFrame = {
    val deg = degrees(canon)
    val oriented = orientEdges(canon, deg)
    val tri = triangleCorners(oriented)
      .localCheckpoint(true) // three consumers below
    tri.select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .unionAll(tri.select(least(col("u"), col("w")).as("a"),
        greatest(col("u"), col("w")).as("b")))
      .unionAll(tri.select(least(col("v"), col("w")).as("a"),
        greatest(col("v"), col("w")).as("b")))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
  }

  /** k-truss extraction (Cohen 2008) — [[kCore]]'s edge-cohesion
    * sibling and the standard cleaner cut of "dense community": keep
    * only edges supported by ≥ k−2 triangles WITHIN the kept set,
    * peeling to an ASSERTED fixpoint (an unconverged run fails loudly
    * rather than returning a silently-approximate truss — the kCore
    * contract). Every k-truss is inside the (k−1)-core but strictly
    * tighter: an edge needs k−2 common neighbors, not just degree.
    * Returns the surviving canonical edges (a, b, support), support
    * measured inside the final truss, ordered.
    *
    * 100 TB shape: each peel round is one triangle enumeration over
    * the SURVIVING edges (degree-oriented pivots — O(√m) out-degree)
    * + one edge-keyed count + one filter, checkpointed; rounds are
    * data-bounded and capped by `maxRounds` with a loud failure.
    */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 12): DataFrame = {
    require(k >= 2 && k <= 64, "kTruss: k in [2,64]")
    require(maxRounds >= 1 && maxRounds <= 20,
      "kTruss: maxRounds in [1,20] — each round enumerates triangles")
    var e = canonEdges(edges, srcCol, dstCol)
    var n = e.count()
    var round = 0
    var done = n == 0L
    while (round < maxRounds && !done) {
      // the surviving-edge count rides the round's own checkpoint as an
      // observe() metric — one scheduled job per round instead of two
      val obs = org.apache.spark.sql.Observation()
      val keep = e
        .join(edgeSupport(e), Seq("a", "b"), "left")
        .filter(coalesce(col("support"), lit(0L)) >= (k - 2).toLong)
        .select(col("a"), col("b"))
        .observe(obs, count(lit(1)).as("m"))
        .localCheckpoint(true)
      val kept = obs.get("m") match {
        case null => 0L
        case l: java.lang.Long => l.longValue()
        case other => other.toString.toLong
      }
      if (kept == n) done = true
      else { e = keep; n = kept }
      round += 1
    }
    require(done, s"kTruss: not converged after $maxRounds rounds " +
      s"($n edges still peeling) — raise maxRounds")
    e.join(edgeSupport(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
      .orderBy(col("a"), col("b"))
  }

  /** Per-node local clustering coefficient (Watts & Strogatz 1998):
    * `cc(v) = 2·T(v) / (deg(v)·(deg(v)−1))` — how close v's
    * neighborhood is to a clique. Community-structure signal for link
    * graphs (a high-cc host cluster is a link farm candidate; a low-cc
    * hub is an aggregator). Nodes of degree < 2 get cc = 0 by
    * convention (no wedge to close). Returns
    * (node, degree, triangles, local_cc) for every node, local_cc
    * rounded to 6 dp.
    *
    * 100 TB shape: triangle ENUMERATION reuses [[triangleCount]]'s
    * degree-oriented pivot device (out-degree O(√m), no hub mints d²
    * wedges on one reducer); per-node counts fold from the three
    * corner roles map-side; degrees re-agg the pinned canonical frame.
    * Everything is edge- or node-keyed — no window, no sort.
    */
  def localClustering(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val canon = canonEdges(edges, srcCol, dstCol)
    val deg0 = degrees(canon)
    val deg = deg0.withColumnRenamed("d", "degree")
    val oriented = orientEdges(canon, deg0)
    val triangles = triangleCorners(oriented)
    val nodeTri = triangles.select(col("u").as("n"))
      .unionAll(triangles.select(col("v").as("n")))
      .unionAll(triangles.select(col("w").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("triangles"))
    deg.join(nodeTri, Seq("n"), "left")
      .select(col("n").as("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 6))
          .otherwise(0.0).as("local_cc"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007), made fully
    * DETERMINISTIC: labels start as node ids; each round every node
    * adopts the most frequent label among its neighbors, ties broken
    * by the SMALLEST label; all updates read the previous round
    * (synchronous — no arrival-order dependence, so the result is an
    * exact function of the graph and `iterations`, replayable by the
    * oracle round for round). The cheap community detector for
    * link-farm / topic-cluster discovery where connected components
    * are too coarse (everything touching is one component) and
    * modularity methods too heavy. Returns (node, community, size).
    *
    * Textbook LPA randomizes tie-breaks and update order; this variant
    * trades that (slower convergence on some graphs) for replayability
    * — the same trade every oracle-checked operator here makes.
    *
    * 100 TB shape: per round ONE adjacency join + one (node, label)
    * count + one argmax window partitioned BY NODE (frames are
    * edge-sized then node-sized), checkpointed so lineage stays flat;
    * `iterations` is a plan-time constant.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame =
    lpaImpl(edges, srcCol, dstCol, iterations, converge = false)

  /** [[labelPropagation]] that stops at the FIXPOINT: the round's
    * label-change count rides the materializing pass as an `observe()`
    * metric (the pageRankConverged device — zero extra scans), and the
    * loop exits as soon as a synchronous round changes no label.
    * `maxIterations` bounds the loop because synchronous LPA can
    * 2-cycle on bipartite structures (Raghavan et al. §3) — callers
    * get whatever round `maxIterations` lands on in that case, exactly
    * as the fixed-iteration face would.
    */
  def labelPropagationConverged(edges: DataFrame, srcCol: String,
      dstCol: String, maxIterations: Int = 20): DataFrame =
    lpaImpl(edges, srcCol, dstCol, maxIterations, converge = true)

  private def lpaImpl(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, converge: Boolean): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      "iterations must be in [1,20] (each round is a full edge join)")
    val canon = canonEdges(edges, srcCol, dstCol)
    val adj = canon.select(col("a").as("z"), col("b").as("n"))
      .unionAll(canon.select(col("b").as("z"), col("a").as("n")))
      .localCheckpoint(true)
    var labels = adj.select(col("z").as("node")).distinct()
      .select(col("node"), col("node").as("community"))
      .localCheckpoint(true)
    var i = 0
    var done = false
    while (i < iterations && !done) {
      // argmax by (count desc, label asc) as a TWO-LEVEL AGGREGATE:
      // min(struct(-count, label)) picks exactly the row the old
      // row_number window picked, but folds map-side as a hash
      // aggregate instead of paying the window's per-round
      // exchange+SORT over the whole (node, label) frame (guide §2.3
      // "aggregate before you shuffle"; struct ordering is field-order
      // lexicographic, so -count then label IS the window's order)
      val next = adj
        .join(labels.select(col("node").as("n"),
          col("community").as("__nl")), Seq("n"))
        .groupBy(col("z").as("node"), col("__nl"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("__c")).as("k"), col("__nl").as("l")))
          .as("__p"))
        .select(col("node"), col("__p.l").as("community"))
      if (converge) {
        // the change count rides the round's own checkpoint job via a
        // node-sized join against the previous labels (same node set
        // every round — adj's nodes — so the inner join is total)
        val obs = org.apache.spark.sql.Observation()
        labels = next
          .join(labels.select(col("node"), col("community").as("__pc")),
            Seq("node"))
          .observe(obs, sum(when(col("community") =!= col("__pc"), 1L)
            .otherwise(0L)).as("chg"))
          .drop("__pc")
          .localCheckpoint(true)
        val chg = obs.get("chg")
        // null = zero rows = empty graph: trivially converged
        if (chg == null || chg.asInstanceOf[Long] == 0L) done = true
      } else {
        labels = next.localCheckpoint(true)
      }
      i += 1
    }
    val sizes = labels.groupBy(col("community")).agg(count(lit(1)).as("size"))
    labels.join(sizes, Seq("community"))
      .select(col("node"), col("community"), col("size"))
      .orderBy(col("node"))
  }

  /** Newman modularity of a labeled partition (Newman & Girvan 2004):
    * per community c, `Q_c = e_c/m − (d_c/2m)²` — intra-community edge
    * fraction minus the fraction expected under the degree-preserving
    * null model; `Q = Σ Q_c ∈ [−0.5, 1]` and values ≳ 0.3 mean real
    * community structure. The missing half of [[labelPropagation]]:
    * LPA emits communities, this scores whether they mean anything.
    * Undirected, multi-edges and self-loops dropped (the canonical-
    * edge convention every operator here shares). Nodes in `labels`
    * that carry no edge contribute nothing (d = 0); graph nodes
    * missing from `labels` fail loudly — a partial labeling would
    * silently understate every d_c. Returns one row per community
    * (community, n_nodes, intra_edges, degree_sum, q_contrib),
    * q_contrib 6 dp, ordered by community; `sum(q_contrib)` is Q.
    *
    * 100 TB shape: the pinned canonical edge frame joins the node-
    * keyed label frame twice (edge-sized hash joins) and aggregates by
    * community; degrees ride one more node-sized join. m arrives as a
    * broadcast 1-row aggregate off the PINNED frame (no recompute).
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, communityCol: String): DataFrame = {
    val canon = canonEdges(edges, srcCol, dstCol)
    val lab = labels
      .select(col(nodeCol).as("node"), col(communityCol).as("__cm"))
      .localCheckpoint(true) // read three times below
    perCommunity(canon, lab)
      .select(col("community"), col("n_nodes"), col("intra_edges"),
        col("degree_sum"),
        // + 0.0 folds IEEE −0.0 (a tiny negative contribution rounded
        // away) into +0.0 so engines can't disagree on the sign of zero
        (round(col("__qc"), 6) + lit(0.0)).as("q_contrib"))
      .orderBy(col("community"))
  }

  /** Per-community modularity frame off a pinned canonical edge frame
    * and a pinned (node, __cm) label frame: (community, n_nodes,
    * intra_edges, degree_sum, __qc) — the shared kernel of
    * [[modularity]] and the ΔQ-stopped LPA. */
  private def perCommunity(canon: DataFrame, lab: DataFrame,
      checkCoverage: Boolean = true): DataFrame = {
    val la = lab.select(col("node").as("a"), col("__cm").as("__ca"))
    val lb = lab.select(col("node").as("b"), col("__cm").as("__cb"))
    // LPA-internal callers pass checkCoverage = false (their labels
    // cover every adjacency node by construction — no probe pass)
    val joined =
      if (!checkCoverage) canon.join(la, Seq("a")).join(lb, Seq("b"))
      else {
        val j = canon.join(la, Seq("a"), "left").join(lb, Seq("b"), "left")
          .localCheckpoint(true) // consumers: coverage probe + intra counts
        val unlabeled = j
          .filter(col("__ca").isNull || col("__cb").isNull).count()
        require(unlabeled == 0L,
          s"modularity: $unlabeled edges touch nodes missing from the " +
            "label frame — a partial labeling would understate degree sums")
        j
      }
    val intra = joined.filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val degC = degrees(canon)
      .join(lab.select(col("node").as("n"), col("__cm")), Seq("n"))
      .groupBy(col("__cm").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("degree_sum"))
    val m = canon.agg(count(lit(1)).as("__m")) // 1 row off the pinned frame
    degC.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (coalesce(col("intra_edges"), lit(0L)).cast("double") /
          col("__m").cast("double") -
          (col("degree_sum").cast("double") /
            (lit(2.0) * col("__m").cast("double"))) *
          (col("degree_sum").cast("double") /
            (lit(2.0) * col("__m").cast("double")))).as("__qc"))
  }

  /** [[labelPropagation]] stopped by MODULARITY GAIN instead of a label
    * fixpoint: after each synchronous round the partition's Q is
    * measured (one edge-sized join + a 1-row aggregate off the pinned
    * frames — an honest extra pass per round, priced in), and the loop
    * keeps the best partition seen, stopping as soon as a round
    * improves Q by less than `minGain` (LPA's Q is not monotone — a
    * round can overshoot into a worse merge, so stop-on-small-gain with
    * best-so-far is the standard guard). Returns the best round's
    * (node, community, size). Q folds in DECIMAL(38,12) so the
    * stopping decision is partition-invariant (same rounds every run).
    */
  def labelPropagationModularityStopped(edges: DataFrame, srcCol: String,
      dstCol: String, maxIterations: Int = 20,
      minGain: Double = 1e-4): DataFrame = {
    require(maxIterations >= 1 && maxIterations <= 20,
      "maxIterations must be in [1,20] (each round is a full edge join)")
    val canon = canonEdges(edges, srcCol, dstCol)
    val adj = canon.select(col("a").as("z"), col("b").as("n"))
      .unionAll(canon.select(col("b").as("z"), col("a").as("n")))
      .localCheckpoint(true)
    var labels = adj.select(col("z").as("node")).distinct()
      .select(col("node"), col("node").as("community"))
      .localCheckpoint(true)
    def qOf(l: DataFrame): Double = {
      val r = perCommunity(canon, l.select(col("node"),
          col("community").as("__cm")), checkCoverage = false)
        .agg(sum(col("__qc").cast("decimal(38,12)")).as("q"))
        .collect()(0) // 1 row — bounded
      if (r.isNullAt(0)) 0.0 else r.getDecimal(0).doubleValue()
    }
    var bestLabels = labels
    var bestQ = qOf(labels) // singleton partition: Q = -Σ(d/2m)² ≤ 0
    var i = 0
    var done = false
    while (i < maxIterations && !done) {
      // same two-level argmax aggregate as lpaImpl (min(struct(-count,
      // label)) ≡ the old row_number window, sans the per-round sort)
      labels = adj
        .join(labels.select(col("node").as("n"),
          col("community").as("__nl")), Seq("n"))
        .groupBy(col("z").as("node"), col("__nl"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("__c")).as("k"), col("__nl").as("l")))
          .as("__p"))
        .select(col("node"), col("__p.l").as("community"))
        .localCheckpoint(true)
      val q = qOf(labels)
      if (q - bestQ < minGain) done = true
      if (q > bestQ) { bestQ = q; bestLabels = labels }
      i += 1
    }
    val sizes = bestLabels.groupBy(col("community"))
      .agg(count(lit(1)).as("size"))
    bestLabels.join(sizes, Seq("community"))
      .select(col("node"), col("community"), col("size"))
      .orderBy(col("node"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED edge
    * list, fixed iterations, L1 normalization (scores sum to 1 —
    * rational arithmetic, engine-replayable; the textbook L2 norm
    * changes only the scale, not the ranking). auth(v) = Σ hub(u) over
    * in-edges, hub(u) = Σ auth(v) over out-edges, renormalized each
    * half-step. The directed complement to PageRank: PageRank finds
    * endorsed pages, HITS separates the endorsers (hubs — link
    * directories, curators) from the endorsed (authorities). Returns
    * (node, hub, authority) rounded to 6 dp.
    *
    * 100 TB shape: q115's iteration scaffold — the edge list pins once
    * partitioned by src, each half-step is one edge-join + node-sized
    * aggregate, scores checkpoint per round.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame =
    hitsImpl(edges, srcCol, dstCol, iterations, tolerance = 0.0)

  /** [[hits]] that stops when the round's L1 score delta
    * `Σ |hub−hub'| + |auth−auth'|` falls below `tolerance` (or
    * `maxIterations` is hit) — the pageRankConverged device: the delta
    * rides the round's own materializing checkpoint as an `observe()`
    * metric over a node-sized self-join, zero extra scans. Fixed-count
    * HITS makes users guess the iteration budget blind; this face lets
    * the scores themselves say when they've stabilized.
    */
  def hitsConverged(edges: DataFrame, srcCol: String, dstCol: String,
      tolerance: Double, maxIterations: Int = 50): DataFrame = {
    require(tolerance > 0, "hitsConverged: tolerance must be positive")
    hitsImpl(edges, srcCol, dstCol, maxIterations, tolerance)
  }

  private def hitsImpl(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, tolerance: Double): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      "iterations must be in [1,50]")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    val n0 = nodes.count().toDouble
    require(n0 > 0, "hits: empty edge list")
    // mass sums quantize to DECIMAL(38,12) (partition-invariant,
    // oracle-replayable); normalization divides the two decimal sums
    // AFTER each casts to double (the q206 parity device)
    def d12(c: Column) = c.cast("decimal(38,12)")
    var scores = nodes.select(col("node"),
        lit(1.0 / n0).as("hub"), lit(1.0 / n0).as("auth"))
      .localCheckpoint(true)
    // Each L1 total is an observe() metric riding its raw mass frame's
    // OWN pin (sum quantized to d12, cast double — identical to the old
    // broadcast 1-row aggregate's value) and re-enters the plan as a
    // driver literal. The old shape paid four pins per iteration
    // (rawAuth, withAuth, rawHub, next) plus two broadcast builds; an
    // intermediate experiment that dropped ALL pins and trusted
    // exchange reuse DOUBLED task time (AQE re-plans the broadcast
    // subqueries separately, so the shared shuffles were not dedup'd) —
    // so the raw frames pin (each has two consumers in different jobs)
    // and `withAuth` is eliminated instead: the hub half-step reads the
    // pinned rawAuth directly (nodes absent from rawAuth carry auth 0
    // and contribute d12(0) = 0 to every hub sum — dropping those zero
    // terms changes no decimal total), and the iteration's score frame
    // assembles from the two pinned raws with left joins. Three pins,
    // zero broadcasts, zero recompute per iteration. Lineage cuts also
    // reset the carried size estimate (freshStats) — the pageRankImpl
    // lesson.
    def cut(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftSqlShim.freshStats(df.localCheckpoint(true))
    def totOf(m: Any): Double = m match {
      case null => 0.0
      case d: java.lang.Double => d.doubleValue
      case other => other.toString.toDouble
    }
    var i = 0
    var converged = false
    while (i < iterations && !converged) {
      val obsA = org.apache.spark.sql.Observation()
      val rawAuth = cut(e.join(scores.select(col("node").as("src"),
          col("hub")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(d12(col("hub"))).cast("double").as("__ra"))
        .observe(obsA, sum(d12(col("__ra"))).cast("double").as("__ta")))
      val ta = totOf(obsA.get("__ta"))
      // hub step: sum outgoing (new) auth mass over the pinned rawAuth
      val obsH = org.apache.spark.sql.Observation()
      val rawHub = cut(e.join(rawAuth.select(col("node").as("dst"),
          (col("__ra") / lit(ta)).as("__a")), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sum(d12(col("__a"))).cast("double").as("__rh"))
        .observe(obsH, sum(d12(col("__rh"))).cast("double").as("__th")))
      val th = totOf(obsH.get("__th"))
      val next = scores.select(col("node"))
        .join(rawAuth, Seq("node"), "left")
        .join(rawHub, Seq("node"), "left")
        .select(col("node"),
          (coalesce(col("__rh"), lit(0.0)) / lit(th)).as("hub"),
          (coalesce(col("__ra"), lit(0.0)) / lit(ta)).as("auth"))
      if (tolerance > 0) {
        // round delta vs start-of-round scores, observed on the
        // checkpoint pass itself (both frames node-sized, same node set)
        val obs = org.apache.spark.sql.Observation()
        scores = cut(next
          .join(scores.select(col("node"), col("hub").as("__ph"),
            col("auth").as("__pa")), Seq("node"))
          .observe(obs, sum(abs(col("hub") - col("__ph")) +
            abs(col("auth") - col("__pa"))).as("l1"))
          .drop("__ph", "__pa"))
        val l1 = obs.get("l1")
        if (l1 == null || l1.asInstanceOf[Double] < tolerance)
          converged = true
      } else {
        scores = cut(next)
      }
      i += 1
    }
    scores.select(col("node"), round(col("hub"), 6).as("hub"),
        round(col("auth"), 6).as("authority"))
      .orderBy(col("node"))
  }

  /** k-core extraction by SYNCHRONIZED peeling: each round removes
    * every node whose degree within the surviving subgraph is below k,
    * all at once, until a fixpoint — the standard "dense enough to
    * matter" subgraph (spam-ring candidates in link graphs, core
    * communities in co-occurrence graphs). Returns (node, core_degree)
    * for the k-core members, core_degree = degree within the core.
    *
    * `maxRounds` bounds the peel and the operator REQUIRES the
    * fixpoint was reached within it (checked on the final round — a
    * loud failure, never a silently-approximate core). Synchronized
    * rounds make the result a pure function of (graph, k) — the same
    * replayability trade as [[labelPropagation]] — and the round count
    * is typically tiny (each round must delete ≥1 node to continue,
    * and cascades usually flatten in a handful of rounds).
    *
    * 100 TB shape: per round one degree re-aggregation + one semi-join
    * on the surviving node set (edge-sized, node-keyed), checkpointed.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 12): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1 && maxRounds <= 50, "maxRounds in [1,50]")
    val canon = canonEdges(edges, srcCol, dstCol)
    var live = canon
    // per round ONE scheduled action: `keep` is not pinned (it is
    // referenced by both semi-joins of the SAME plan, where exchange
    // reuse dedups its aggregate), and the fixpoint probe rides the
    // round's own checkpoint as an observe() count against the running
    // edge tally — the old shape paid a keep-pin plus two count jobs
    // per round on top of the materialization
    var n = live.count()
    var r = 0
    var converged = false
    // maxRounds bounds REAL peel rounds; convergence is only observable
    // as a no-op round, so the loop allows one extra iteration for the
    // observation — a fixpoint reached exactly at round maxRounds still
    // certifies instead of failing the require
    while (r < maxRounds + 1 && !converged) {
      val deg = degrees(live)
      val keep = deg.where(col("d") >= k).select(col("n"))
      val obs = org.apache.spark.sql.Observation()
      val next = live
        .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .observe(obs, count(lit(1)).as("m"))
        .localCheckpoint(true)
      // fixpoint when no edge was peeled this round; null = zero rows
      val kept = obs.get("m") match {
        case null => 0L
        case l: java.lang.Long => l.longValue()
        case other => other.toString.toLong
      }
      converged = kept == n
      live = next
      n = kept
      r += 1
    }
    require(converged,
      s"kCore: not converged after $maxRounds rounds — raise maxRounds")
    degrees(live)
      .where(col("d") >= k) // isolated survivors of the last peel drop
      .select(col("n").as("node"), col("d").as("core_degree"))
      .orderBy(col("node"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the edge list — positive means hubs link to
    * hubs (social-network shape), negative means hubs link to leaves
    * (web/biology shape). One number that tells you which skew story
    * your graph is. Computed over BOTH orientations of every edge (the
    * standard undirected convention), via [[Profile.correlationMatrix]]'s
    * exact decimal moments. Returns one row (n_edges, assortativity).
    */
  def assortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val canon = canonEdges(edges, srcCol, dstCol)
    val deg = degrees(canon)
    val both = canon.unionAll(canon.select(col("b").as("a"),
      col("a").as("b")))
    val pairs = both
      .join(deg.select(col("n").as("a"), col("d").as("deg_a")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("deg_b")), Seq("b"))
      .select(col("deg_a"), col("deg_b"))
    Profile.correlationMatrix(pairs, Seq("deg_a", "deg_b"))
      .select((col("n") / 2).cast("long").as("n_edges"),
        col("r").as("assortativity"))
  }

  /** Multi-source BFS hop distance: the minimum number of edges from
    * any seed to each reachable node, out to `maxHops` — "how far is
    * every page from the trusted seed set" (the TrustRank-style
    * frontier question) or blast-radius analysis from an incident
    * node set. Undirected. Returns (node, dist) with dist in
    * [0, maxHops], seeds at 0; unreachable-within-maxHops nodes are
    * absent.
    *
    * 100 TB shape: classic frontier BFS — each hop is ONE join of the
    * (shrinking) frontier against the adjacency list plus an anti-join
    * against the visited set; frames are node-sized, the edge list is
    * touched once per hop, and each hop localCheckpoints so lineage
    * stays flat. maxHops is a plan-time constant (hop counts in
    * practice are single digits — this is NOT the transitive-closure
    * machine; connected components (ops/Dedup.scala) answers the
    * unbounded question in O(log n) rounds).
    */
  def hopDistance(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val canon = canonEdges(edges, srcCol, dstCol)
    val adj = canon.select(col("a").as("z"), col("b").as("n"))
      .unionAll(canon.select(col("b").as("z"), col("a").as("n")))
    val level0 = seeds.select(col(seedCol).as("node")).distinct()
      .select(col("node"), lit(0).as("dist"))
      .localCheckpoint(true)
    // the visited set is a LAZY union of the pinned per-hop frontiers:
    // re-pinning the running union each hop wrote Σh |visited_h| rows
    // (quadratic in hops) and paid an extra scheduled job per hop for
    // data every member frame already holds materialized — the
    // randomWalks step-buffer device applied to BFS
    val levels = scala.collection.mutable.ArrayBuffer(level0)
    def dist(): DataFrame = levels.reduce(_ unionAll _)
    var frontier = level0
    var h = 1
    while (h <= maxHops) {
      frontier = frontier
        .join(adj, frontier("node") === adj("z"))
        .select(col("n").as("node")).distinct()
        .join(dist(), Seq("node"), "left_anti")
        .select(col("node"), lit(h).as("dist"))
        .localCheckpoint(true)
      levels += frontier
      h += 1
    }
    dist().orderBy(col("dist"), col("node"))
  }

  /** Deterministic random walks over the UNDIRECTED graph — the
    * DeepWalk/node2vec corpus generator (Perozzi et al. 2014): walk
    * sequences feed skip-gram embedding training exactly like text
    * windows do. "Random" is a hash: at step t, walk w at node u moves
    * to the neighbor v minimizing md5("w:t:u:v") — uniform over
    * neighbors, yet a pure function of (graph, starts, len), so walks
    * are partition-invariant, resumable, and ORACLE-REPLAYABLE (the
    * q56 split device applied to graph transitions; textbook RNG walks
    * are unverifiable across engines). Walks stop early at dead ends
    * (isolated starts emit only step 0). Returns (walk_id, step, node)
    * rows, step in [0, len].
    *
    * 100 TB shape: per step ONE adjacency equi-join + a map-side
    * min(struct(hash, neighbor)) argmin per walk (partial-aggregated —
    * a hub's candidate rows combine map-side, no degree-sized reducer
    * group), checkpointed per step; frames are |walks|-sized, the
    * adjacency is touched once per step. `len` is a plan-time constant.
    */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      starts: DataFrame, walkIdCol: String, nodeCol: String,
      len: Int): DataFrame = {
    require(len >= 1 && len <= 20,
      "len in [1,20] — each step is a full adjacency join")
    val canon = canonEdges(edges, srcCol, dstCol)
    val adj = canon.select(col("a").as("z"), col("b").as("n"))
      .unionAll(canon.select(col("b").as("z"), col("a").as("n")))
      .localCheckpoint(true)
    // distinct walk ids: duplicated ids would silently interleave two
    // walks into one argmin chain
    var cur = starts.select(col(walkIdCol).as("walk_id"),
        col(nodeCol).as("node")).distinct()
      .select(col("walk_id"), lit(0).as("step"), col("node"))
      .localCheckpoint(true)
    // both guard counts fold into ONE aggregate job over the pinned
    // start frame (the old shape scheduled a count job plus a
    // distinct+count job for the same bounded frame)
    val guard = cur.agg(count(lit(1)).as("n"),
      countDistinct(col("walk_id")).as("d")).head()
    require(guard.getLong(0) == guard.getLong(1),
      "randomWalks: walk ids must be unique — a duplicated id would " +
        "interleave two walks into one argmin chain")
    // each step frame is already checkpointed — accumulate them in a
    // buffer and union ONCE after the loop; re-materializing the
    // running union per step would write ~len²/2 × |walks| rows total
    // (5× amplification at len=10) for zero benefit
    val steps = scala.collection.mutable.ArrayBuffer(cur)
    var t = 0
    while (t < len) {
      val h = md5(concat(col("walk_id").cast("string"), lit(":"),
        lit(t).cast("string"), lit(":"), col("node").cast("string"),
        lit(":"), col("n").cast("string")))
      cur = cur
        .join(adj, cur("node") === adj("z"))
        .select(col("walk_id"), struct(h.as("h"), col("n")).as("__c"))
        .groupBy(col("walk_id"))
        .agg(min(col("__c")).as("__c"))
        .select(col("walk_id"), lit(t + 1).as("step"),
          col("__c.n").as("node"))
        .localCheckpoint(true)
      steps += cur
      t += 1
    }
    steps.reduce(_ unionAll _).orderBy(col("walk_id"), col("step"))
  }

  /** Landmark harmonic centrality (Boldi & Vigna 2014, "Axioms for
    * centrality" — the centrality they recommend): for each node v,
    * `Σ over seeds s ≠ v of 1/d(s, v)`, distances capped at `maxHops`
    * (beyond-cap contributions are 0). With seeds = all nodes this is
    * the exact definition; with a landmark sample it is the standard
    * at-scale estimator (exact all-pairs is O(n·m) — the honest rail:
    * |seeds| bounds both the cost and the state, and the caller picks
    * it). "Which pages are close to everything" — the coverage
    * companion to PageRank's endorsement view. Undirected. Returns
    * (node, n_reached, harmonic) for every non-seed-only node reached
    * by ≥1 seed, harmonic rounded to 6 dp.
    *
    * 100 TB shape: one frontier BFS over (seed, node) pairs — each hop
    * is one adjacency join + one anti-join against the visited set,
    * frames bounded by |seeds| × nodes (the landmark rail), each hop
    * checkpointed; the readout is a node-keyed aggregation whose 1/d
    * terms quantize to DECIMAL(38,12) (order-free, engine-replayable).
    */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 10,
      "maxHops in [1,10] — each hop is a full adjacency join")
    val canon = canonEdges(edges, srcCol, dstCol)
    val adj = canon.select(col("a").as("z"), col("b").as("n"))
      .unionAll(canon.select(col("b").as("z"), col("a").as("n")))
      .localCheckpoint(true)
    val level0 = seeds.select(col(seedCol).as("seed")).distinct()
      .select(col("seed"), col("seed").as("node"), lit(0).as("dist"))
      .localCheckpoint(true)
    // lazy union of pinned per-hop frontiers — the hopDistance device:
    // one pin per hop instead of two, no quadratic re-materialization
    // of the running (seed, node) set
    val levels = scala.collection.mutable.ArrayBuffer(level0)
    def dist(): DataFrame = levels.reduce(_ unionAll _)
    var frontier = level0
    var h = 1
    while (h <= maxHops) {
      frontier = frontier
        .join(adj, frontier("node") === adj("z"))
        .select(col("seed"), col("n").as("node")).distinct()
        .join(dist(), Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(h).as("dist"))
        .localCheckpoint(true)
      levels += frontier
      h += 1
    }
    dist().filter(col("dist") > 0) // self-distance carries no mass
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_reached"),
        round(sum((lit(1.0) / col("dist"))
          .cast("decimal(38,12)")).cast("double"), 6).as("harmonic"))
      .orderBy(col("node"))
  }

  /** Weighted single-source shortest paths from a landmark seed set —
    * [[hopDistance]]'s min-plus companion: d(s, v) = min over ≤`maxHops`-
    * edge paths of the weight sum (Bellman-Ford frontier relaxation;
    * positive finite weights required, so every relaxation chain is
    * monotone and the hop cap is the honest rail exactly as in
    * [[harmonicCentrality]]). Undirected; multi-edges collapse to
    * their MINIMUM weight (the only one a shortest path can use);
    * self-loops drop. Each hop relaxes only from the nodes improved
    * last hop, which computes the same distance set as full relaxation
    * (a non-improved node's out-candidates were already offered the
    * hop it last improved) while touching a shrinking frontier; the
    * loop exits early once no (seed, node) improves. Path sums
    * accumulate left-to-right along hops, so every distance is an
    * exact function of (graph, seeds, maxHops) — engine-replayable by
    * unrolled min-plus rounds. Returns (seed, node, dist) for every
    * reached pair (seeds at dist 0.0), 6 dp.
    *
    * 100 TB shape: per hop ONE adjacency equi-join off the pinned
    * weighted edge frame + one (seed, node)-keyed min + one merge
    * aggregate, each checkpointed; frames bounded by |seeds| × nodes
    * (the landmark rail — |seeds| prices the run, the caller picks it).
    */
  def weightedDistances(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 15,
      "maxHops in [1,15] — each hop is a full adjacency join")
    val raw = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"),
        col(weightCol).cast("double").as("w"))
      .where(col("a") =!= col("b"))
      .localCheckpoint(true) // consumers: weight guard + canonical agg
    // NaN must be rejected explicitly (NaN <= 0 is false in SQL), and
    // BEFORE the min-weight collapse — min() skips nulls, so a null
    // weight on a multi-edge would otherwise vanish silently
    require(raw.filter(col("w").isNull || col("w") <= 0 || isnan(col("w")))
        .isEmpty,
      s"weightedDistances: weight column '$weightCol' must be positive, " +
        "finite and non-null")
    val canon = raw.groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
    val adj = canon.select(col("a").as("z"), col("b").as("n"), col("w"))
      .unionAll(canon.select(col("b").as("z"), col("a").as("n"), col("w")))
      .localCheckpoint(true)
    val level0 = seeds.select(col(seedCol).as("seed")).distinct()
      .select(col("seed"), col("seed").as("node"), lit(0.0).as("dist"))
      .localCheckpoint(true)
    // the running best-distance set is a LAZY min-merge over the pinned
    // per-hop improvement frames (the hopDistance device, min-plus
    // flavored): each improvement frame only ever holds strictly better
    // distances, so min over their union IS the merged set — the old
    // shape re-materialized that merge every hop (an extra scheduled
    // job re-writing the whole running set for rows the pinned frames
    // already hold) and paid a separate isEmpty action per hop, which
    // now rides the improvement checkpoint as an observe() count
    val improvedFrames = scala.collection.mutable.ArrayBuffer(level0)
    def best(): DataFrame = improvedFrames.reduce(_ unionAll _)
      .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
    var frontier = level0
    var h = 1
    var done = false
    while (h <= maxHops && !done) {
      val obs = org.apache.spark.sql.Observation()
      val improved = frontier
        .join(adj, frontier("node") === adj("z"))
        .select(col("seed"), col("n").as("node"),
          (col("dist") + col("w")).as("dist"))
        .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
        .join(best().select(col("seed"), col("node"),
          col("dist").as("__old")), Seq("seed", "node"), "left")
        .filter(col("__old").isNull || col("dist") < col("__old"))
        .select(col("seed"), col("node"), col("dist"))
        .observe(obs, count(lit(1)).as("m"))
        .localCheckpoint(true)
      val m = obs.get("m") match {
        case null => 0L
        case l: java.lang.Long => l.longValue()
        case other => other.toString.toLong
      }
      if (m == 0L) done = true
      else { improvedFrames += improved; frontier = improved }
      h += 1
    }
    best().select(col("seed"), col("node"), round(col("dist"), 6).as("dist"))
      .orderBy(col("seed"), col("node"))
  }

  /** Landmark-sampled betweenness dependency (Brandes 2001): for each
    * seed s, the forward BFS counts shortest paths σ_s(v) and the
    * backward pass accumulates `δ_s(v) = Σ over DAG successors w of
    * (σ_s(v)/σ_s(w))·(1 + δ_s(w))`; the reported `dependency(v) =
    * Σ_s δ_s(v)` is the sampled betweenness estimator — with seeds =
    * all nodes it is EXACTLY 2× the betweenness of an undirected
    * graph (each unordered pair counted from both endpoints), with a
    * landmark sample it is the standard at-scale estimate, |seeds|
    * pricing the run (the [[harmonicCentrality]] rail). Paths longer
    * than `maxHops` don't contribute (the hop-capped DAG — the honest
    * truncation, stated). Undirected. Returns (node, n_seeds,
    * dependency) for every node reached by ≥1 seed, seeds' own source
    * rows excluded, dependency 6 dp.
    *
    * Determinism at any scale: σ counts fold in DECIMAL(38,0) (path
    * counts explode combinatorially — a long would overflow quietly),
    * each backward term quantizes to DECIMAL(38,12) BEFORE its sum
    * (order-free), and δ stays decimal end to end, so every value is
    * an exact function of (graph, seeds, maxHops) and the oracle
    * replays both passes hop for hop.
    *
    * 100 TB shape: the shortest-path DAG's edges only cross adjacent
    * hop levels, so δ for level h−1 is complete after ONE step — the
    * backward pass is `maxHops` joins over (seed, node) frames, same
    * as the forward pass; every level frame checkpoints.
    */
  def betweennessDependency(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 8,
      "maxHops in [1,8] — each hop is a full adjacency join each way")
    val canon = canonEdges(edges, srcCol, dstCol)
    val adj = canon.select(col("a").as("z"), col("b").as("n"))
      .unionAll(canon.select(col("b").as("z"), col("a").as("n")))
      .localCheckpoint(true)
    val level0 = seeds.select(col(seedCol).as("seed")).distinct()
      .select(col("seed"), col("seed").as("node"),
        lit(1).cast("decimal(38,0)").as("sigma"))
      .localCheckpoint(true)
    val levels = scala.collection.mutable.ArrayBuffer(level0)
    // the visited set is a lazy union over the pinned levels (the
    // hopDistance device): the old per-hop visited pin doubled the
    // actions per hop and re-wrote the whole running set every round
    def visited(): DataFrame =
      levels.map(_.select(col("seed"), col("node"))).reduce(_ unionAll _)
    var h = 1
    while (h <= maxHops) {
      val prev = levels.last
      val next = prev
        .join(adj, prev("node") === adj("z"))
        .select(col("seed"), col("n").as("node"), col("sigma"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(visited(), Seq("seed", "node"), "left_anti")
        .localCheckpoint(true)
      levels += next
      h += 1
    }
    // backward: deepest level has no in-cap successors -> δ = 0; each
    // shallower level's δ completes in one join against the level
    // below (DAG edges cross adjacent levels only)
    val zero = lit(0).cast("decimal(38,12)")
    var deltas = List(levels(maxHops).select(col("seed"), col("node"),
      col("sigma"), zero.as("delta")).localCheckpoint(true))
    for (hh <- maxHops to 1 by -1) {
      val below = deltas.head // level hh with (seed, node, sigma, delta)
      val lv = levels(hh - 1)
      val terms = below
        .join(adj, below("node") === adj("z"))
        .select(col("seed"), col("n").as("__v"),
          col("sigma").as("__sw"), col("delta").as("__dw"))
        .join(lv.select(col("seed"), col("node").as("__v"),
          col("sigma").as("__sv")), Seq("seed", "__v"))
        .select(col("seed"), col("__v"),
          ((col("__sv").cast("double") / col("__sw").cast("double")) *
            (lit(1.0) + col("__dw").cast("double")))
            .cast("decimal(38,12)").as("__t"))
        .groupBy(col("seed"), col("__v"))
        .agg(sum(col("__t")).as("__d"))
      val dNew = lv
        .join(terms.select(col("seed"), col("__v").as("node"),
          col("__d")), Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("sigma"),
          coalesce(col("__d"), zero).as("delta"))
        .localCheckpoint(true)
      deltas = dNew :: deltas
    }
    // drop the sources themselves (δ_s(s) is not a dependency — the
    // list's head is level 0), sum the per-seed deltas per node
    deltas.tail.reduce(_ unionAll _)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_seeds"),
        round(sum(col("delta")).cast("double"), 6).as("dependency"))
      .orderBy(col("node"))
  }

  /** Adamic-Adar link prediction (Adamic & Adar 2003, "Friends and
    * neighbors on the Web"): score every NON-adjacent node pair (u, v)
    * by `sum over common neighbors z of 1/ln(deg(z))` — shared rare
    * neighbors predict a future link far more strongly than shared
    * hubs. The classic candidate generator for "users also bought" /
    * related-document suggestions over a co-occurrence graph.
    *
    * `maxDegree` is the hub-exclusion rail, and it is a semantic knob,
    * not just a performance one: a center z mints deg(z)² wedges (the
    * quadratic term that kills naive implementations on power-law
    * graphs) while contributing the MINIMUM per-wedge score 1/ln(deg)
    * — so the cap trims exactly the wedges that cost the most and say
    * the least. Standard practice in production link prediction;
    * callers wanting the textbook-exact score pass Long.MaxValue.
    *
    * Returns (node_a, node_b, common_neighbors, aa_score) for the topK
    * highest-scoring non-edges, node_a < node_b, ties broken by the
    * pair. Scores quantize to DECIMAL(38,12) per wedge before summing
    * (partition-invariant) and round to 6 dp.
    *
    * 100 TB shape: wedges come from ONE self-join of the adjacency
    * list on the center key — sum over kept centers of deg² rows,
    * bounded by maxDegree²·|centers|; the score fold is a map-side-
    * partial aggregation on the pair key; existing edges leave via a
    * canonical-frame anti-join (edge-sized, same key); the topK is a
    * TakeOrdered, never a full sort. The canonical edge frame pins
    * once and feeds degrees, wedges, and the anti-join.
    */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Long = Long.MaxValue, topK: Int = 100): DataFrame = {
    require(topK > 0, "topK must be positive")
    require(maxDegree >= 2, "maxDegree must be >= 2 (a center needs two neighbors)")
    val canon = canonEdges(edges, srcCol, dstCol)
    val adj = canon.select(col("a").as("z"), col("b").as("n"))
      .unionAll(canon.select(col("b").as("z"), col("a").as("n")))
    // deg(z) >= 2 is not a heuristic: a degree-1 center spans no wedge
    // (and 1/ln(1) is undefined anyway)
    val centers = adj.groupBy(col("z")).agg(count(lit(1)).as("__d"))
      .where(col("__d").between(2L, maxDegree))
      .select(col("z"),
        (lit(1.0) / log(col("__d").cast("double")))
          .cast("decimal(38,12)").as("__w"))
    val half = adj.join(centers, Seq("z"))
    val wedges = half.select(col("z"), col("n").as("u"), col("__w"))
      .join(half.select(col("z"), col("n").as("v")), Seq("z"))
      .where(col("u") < col("v"))
    wedges
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"), sum(col("__w")).as("__s"))
      .join(canon.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .select(col("u").as("node_a"), col("v").as("node_b"),
        col("common_neighbors"),
        round(col("__s").cast("double"), 6).as("aa_score"))
      .orderBy(col("aa_score").desc, col("node_a"), col("node_b"))
      .limit(topK)
  }
}
