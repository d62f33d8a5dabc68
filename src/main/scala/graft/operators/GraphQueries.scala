package graft.operators

import graft.{GraftQuery, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** Graph analytics over derived link graphs — the authority-ranking /
  * reachability passes a corpus pipeline runs over its domain/document link
  * graph to produce quality weights and crawl frontiers (classic
  * pretraining-data curation signals), here exercised on the
  * supplier↔customer bipartite graph derived from lineitem⋈orders.
  *
  * Spark-first shape: each iteration is one equi join of the edge list with
  * the current per-node vector plus a partial/final hash agg on the
  * destination key (the Pregel-as-join pattern). No driver state, no
  * collect; the edge list partitions on src and the node vector on node, so
  * at 100 TB each iteration is one shuffle of the (bounded) node vector,
  * not the edges (AQE broadcasts the vector side when it fits).
  *
  * Determinism contract (g1): all arithmetic is integer micro-units with
  * floor division (rank starts at 1e6; contribution = r div outdeg;
  * damping = 150000 + (85·Σ) div 100) — float summation order can differ
  * between engines and between retries, integer sums cannot. Same device
  * as the IVF k-means trainer (Graft.kmeansCentroids). g2's labels are
  * hop counts — already integers.
  */
object GraphQueries {

  /** Symmetric (src, dst) edge list of the supplier↔customer bipartite
    * graph: nodes are s_suppkey and o_custkey + 100000 (disjoint id
    * spaces), one undirected edge per distinct trading pair. */
  private def bipartiteEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = T.lineitem(s, d)
      .join(T.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
    pairs.select($"sk".as("src"), ($"ck" + 100000L).as("dst"))
      .union(pairs.select(($"ck" + 100000L).as("src"), $"sk".as("dst")))
  }

  /** Canonical (u < v) part co-occurrence pairs with their DISTINCT-order
    * support count: (u, v, n_orders). The input is deduplicated to one
    * (order, part) row first — lineitem carries duplicate part lines
    * within an order, which would otherwise inflate a pair's support past
    * what "appears together in N orders" means. The self-join shuffles
    * both sides on l_orderkey (co-partitioned), and pair generation per
    * order is bounded by the order's distinct part count (<= 7 in TPC-H
    * shape), so the build is linear in lineitem, never quadratic in
    * parts. Shared by g3/g4, d2_frequent_pairs and the facade tests — one
    * definition, no drift. */
  def coOccurrencePairs(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    // Shape note (r16 audit): this reads optimal already — the dedup's
    // exchange and the join-side exchange on l_orderkey are identical
    // subtrees on both aliases, so ReusedExchange plans the scan, the
    // dedup and one shuffle exactly once. An attempted "one explicit
    // repartition(l_orderkey) serves dedup + join" rewrite measured 5×
    // the task time: without an Exchange directly under the join there is
    // nothing for ReusedExchange to dedup (scan + dedup ran per side) and
    // the planner's small post-dedup estimate flipped the self-join to a
    // broadcast of the whole pair set. Left as-is deliberately.
    val l = lineitem.select($"l_orderkey", $"l_partkey").distinct()
    l.as("a").join(l.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .agg(count(lit(1)).as("n_orders"))
  }

  private def coOccurrenceEdges(s: SparkSession, d: String,
      minOrders: Int): DataFrame = {
    import s.implicits._
    val pairs = coOccurrencePairs(T.lineitem(s, d))
    if (minOrders > 1) pairs.filter($"n_orders" >= minOrders).select($"u", $"v")
    else pairs.select($"u", $"v")
  }

  /** Connected components via alternating large-star / small-star edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the 100 TB-scale CC algorithm. Each round is two
    * (groupBy-min + rejoin) passes over the edge list; the edge set
    * monotonically contracts toward a forest of stars centered on each
    * component's minimum node id, in O(log n) rounds. Unlike plain
    * min-label propagation ([[graft.Graft.propagateMinLabels]], the n6
    * path), the rewriting moves EDGES toward the minimum, so a
    * high-diameter path graph converges logarithmically and no node ever
    * accumulates more state than its (rewritten) neighborhood.
    *
    * Each round localCheckpoints the new edge list (truncating lineage)
    * and unpersists the previous one; convergence = unchanged
    * (count, hash) checksum, verified externally by the oracle label match.
    * Returns (labels(node, comp), converged) over every node of `edges0`.
    */
  def ccLargeSmallStar(edges0: DataFrame, maxRounds: Int = 25): (DataFrame, Boolean) = {
    val spark = edges0.sparkSession
    import spark.implicits._

    // large-star: for each node u, m = min(N(u) ∪ {u}); every neighbor
    // v > u re-attaches to m. groupBy+rejoin (not a window) so a hot hub's
    // neighborhood is a partial-aggregated min, never a collected array.
    // No dedup here: small-star's min-aggregate absorbs duplicates, so a
    // distinct would buy nothing but an extra shuffle per round.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select($"u", $"v").union(e.select($"v".as("u"), $"u".as("v")))
      val m = sym.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"mn", $"u").as("m"))
      sym.join(m, "u").filter($"v" > $"u")
        .select($"v".as("u"), $"m".as("v")).filter($"u" =!= $"v")
    }

    // small-star: orient every edge high→low (a > b); m = min(N(a) ∪ {a})
    // = min(b); every low neighbor (and a itself) re-attaches to m.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest($"u", $"v").as("a"), least($"u", $"v").as("b"))
      val m = dir.groupBy($"a").agg(min($"b").as("m"))
      dir.join(m, "a")
        .select($"b".as("u"), $"m".as("v")).filter($"u" =!= $"v")
        .union(m.select($"a".as("u"), $"m".as("v")))
        .distinct()
    }

    // the initial checksum rides the first checkpoint job, like each round's
    val obs0 = new org.apache.spark.sql.Observation()
    var edges = edges0.select($"u", $"v")
      .observe(obs0, count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h"))
      .localCheckpoint(true)
    var sig = {
      val m0 = obs0.get
      (m0("n").asInstanceOf[Long], m0("h").asInstanceOf[Long])
    }
    // node set off the CHECKPOINTED edges — the expensive upstream edge
    // build runs exactly once (its own checkpoint is needed because the
    // loop unpersists prior edge snapshots)
    val nodes = edges.select($"u".as("node"))
      .union(edges.select($"v".as("node"))).distinct().localCheckpoint(true)
    // size the iteration space to the EDGE data, not the input table: the
    // (often heavily thresholded) edge set can be orders of magnitude
    // smaller than its source, and every round schedules ~6 stages over
    // these partitions — at 100 TB the same formula yields thousands of
    // partitions, at test SFs a handful
    val parts = math.max(4, math.min(4096, (sig._1 / 100000L).toInt))
    if (parts < edges.rdd.getNumPartitions) edges = edges.coalesce(parts)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // the convergence checksum rides the checkpoint's materialization job
      // as observed metrics — one job per round, not two
      val obs = new org.apache.spark.sql.Observation()
      val next = smallStar(largeStar(edges))
        .observe(obs, count(lit(1)).as("n"),
          coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h"))
        .localCheckpoint(true)
      val m = obs.get
      val nextSig = (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
      converged = nextSig == sig
      edges.unpersist()
      edges = next
      sig = nextSig
      round += 1
    }
    // At the star fixpoint every edge is (leaf, center) with center = the
    // component minimum; centers (and isolated nodes) label themselves.
    val labels = nodes.join(edges.select($"u".as("node"), $"v".as("comp")),
        Seq("node"), "left")
      .select($"node", coalesce($"comp", $"node").as("comp")).distinct()
    (labels, converged)
  }

  /** Conservative UnsafeRow footprint of one oriented (src, dst, ddst)
    * edge in a broadcast HashedRelation: 3 long fields + null bitmap +
    * relation overhead. */
  private val OrientedEdgeBytes = 48L

  /** Max oriented-edge-list bytes we volunteer to broadcast in the g4
    * wedge closure. The edge list is ~sqrt of the wedge stream, so a
    * broadcast is worth far more here than in a generic join — the default
    * is 8x `autoBroadcastJoinThreshold` (80 MB at stock conf), overridable
    * via `spark.graft.graph.broadcastEdgeBytes`. Setting
    * `autoBroadcastJoinThreshold` to -1 disables the broadcast outright
    * (the operator respects a cluster-wide "no broadcasts" policy). */
  private def edgeBroadcastCap(spark: SparkSession): Long = {
    import org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    // JavaUtils.byteStringAsBytes cannot parse negatives ("-1" throws);
    // Spark's own conf layer strips the sign before calling it, so this
    // must too — "-1" is the STANDARD way to disable broadcasts and the
    // guard below is unreachable without this.
    def parse(s: String): Long = {
      val t = s.trim
      if (t.startsWith("-")) -byteStringAsBytes(t.substring(1))
      else byteStringAsBytes(t)
    }
    spark.conf.getOption("spark.graft.graph.broadcastEdgeBytes")
      .map(parse) getOrElse {
      val auto = parse(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
      if (auto <= 0) -1L else 8L * auto
    }
  }

  /** Per-node triangle counts over an undirected canonical (u < v) edge
    * set: (node, tri, deg). Degree-oriented adjacency intersection: with
    * every edge oriented low-degree → high-degree, the triangles an edge
    * (u,v) closes are exactly W = N+(u) ∩ N+(v), and each triangle is
    * found at exactly one edge (the one between its two vertices that
    * both point at the third). Out-neighborhoods are sorted arrays, so
    * the intersection is a linear merge walk ([[graft.functions.VectorOps
    * .sortedIntersect]], whole-stage-codegen'd) over ~O(√m)-bounded
    * adjacency — the wedge stream (Σ outdeg², 41M rows at sf0.1, 34× the
    * edge count) is never materialized and never hash-probed; the r16
    * wedge-closure shape measured 46 s of task time at sf0.1 where this
    * walk measures a fraction of that for identical output. Per-node
    * attribution without per-triangle×3 rows: u and v each gain |W|, and
    * only the |W| closing vertices explode (Σ|W| = the triangle count).
    * When the adjacency fits [[edgeBroadcastCap]] it is broadcast into
    * both attach joins (the edge list never shuffles); past the cap the
    * identical dataflow degrades to shuffle joins instead of OOMing an
    * executor. `broadcastEdges` pins the decision for tests. Nodes in no
    * triangle are absent (left-join + coalesce at the call site if zeros
    * matter). */
  def triangleCounts(edges: DataFrame,
      broadcastEdges: Option[Boolean] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // the edge count rides the checkpoint's materialization job as an
    // observed metric — it sizes the broadcast decision at zero extra
    // passes (adjacency bytes ∝ edges: the arrays hold one long per
    // oriented edge)
    val obs = new org.apache.spark.sql.Observation()
    val e = edges.select($"u", $"v")
      .observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    val edgeCount = obs.get("n").asInstanceOf[Long]
    val cap = edgeBroadcastCap(spark)
    val doBroadcast = broadcastEdges.getOrElse(
      cap > 0 && edgeCount * OrientedEdgeBytes <= cap)
    def bcast(df: DataFrame): DataFrame = if (doBroadcast) broadcast(df) else df
    // under the broadcast plan the degree table feeds THREE broadcast
    // builds (du/dv attaches + the final per-node join), and broadcast
    // subtrees are not deduplicated across differing projections —
    // checkpoint the (≤ 2×edges rows) result so it aggregates once
    val deg0 = e.select($"u".as("n")).union(e.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    val deg = if (doBroadcast) deg0.localCheckpoint(true) else deg0
    // the degree table is ≤ 2×edges rows, so the broadcast decision that
    // covers the adjacency covers it too; without the hint the planner's
    // unknown-size estimate for the union+groupBy subtree plans these
    // attaches as sort-merge joins (measured sf0.1: 15 s of task time
    // spent sorting 1.2M edges twice for a 20k-row build side)
    val ew = e
      .join(bcast(deg.select($"n".as("u"), $"deg".as("du"))), "u")
      .join(bcast(deg.select($"n".as("v"), $"deg".as("dv"))), "v")
    val lower = $"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v")
    // the oriented edge list is the STREAM side of both adjacency-attach
    // joins, so its partition count caps the parallelism of the
    // O(Σ outdeg·(outdeg+indeg)) merge-walk pass — the job's dominant
    // compute. AQE sizes the upstream exchanges by bytes and coalesces
    // this tiny edge list onto a handful of tasks, so under the broadcast
    // plan spread it round-robin to 2× the cores before checkpointing;
    // the shuffle path keeps AQE's byte-based sizing (its joins cross
    // real exchanges that set their own parallelism).
    val orientedRaw = ew.select(
      when(lower, $"u").otherwise($"v").as("src"),
      when(lower, $"v").otherwise($"u").as("dst"))
    // keyed on src (not round-robin): a keyless repartition pays a local
    // sort of its input (sortBeforeRepartition), while hash(src) is free,
    // spreads fine (≥20k keys over 2×cores partitions, outdeg O(√m)),
    // and the adjacency groupBy below then REUSES the partitioning — no
    // exchange under the aggregate
    val oriented = (if (doBroadcast)
        orientedRaw.repartition(2 * spark.sparkContext.defaultParallelism, $"src")
      else orientedRaw)
      .localCheckpoint(true)
    // sorted out-neighborhoods; degree orientation bounds |nbr| by
    // O(√m), so no row ever collects a hub's full neighborhood. Under the
    // broadcast plan the (tiny) result is checkpointed so the two
    // broadcast projections below don't each recompute the aggregation —
    // BroadcastExchange reuse can't see through the differing renames.
    val adj0 = oriented.groupBy($"src")
      .agg(sort_array(collect_list($"dst")).as("nbr"))
    val adj = if (doBroadcast) adj0.localCheckpoint(true) else adj0
    // attach N+(u) and N+(v) to each edge; a dst with no out-edges closes
    // nothing, so the inner join dropping it is exact
    // Prune with an O(1) range-overlap test on the SORTED arrays before
    // walking them — NOT `size(ws) > 0`, which the optimizer pushes into
    // the join condition and thereby evaluates the intersect twice per
    // edge (once as predicate, once as projection; seen in the physical
    // plan). The overlap test is sound (an empty overlap range implies an
    // empty intersection); its few false positives reach the explode
    // below with an empty `ws`, whose empty array emits no row, so the
    // output set is unchanged (a node appears iff it closes at least one
    // triangle).
    val withCommon = oriented
      .join(bcast(adj.select($"src", $"nbr".as("au"))), Seq("src"))
      .join(bcast(adj.select($"src".as("dst"), $"nbr".as("av"))), Seq("dst"))
      .filter(element_at($"au", -1) >= element_at($"av", 1) &&
        element_at($"av", -1) >= element_at($"au", 1))
      .select($"src".as("u"), $"dst".as("v"),
        graft.functions.GraftFunctions.sorted_intersect($"au", $"av").as("ws"))
    // edges with an empty intersection contribute NOTHING: the CASE emits
    // an empty array (explode drops the row) instead of a post-hoc
    // `size(ws) > 0` Filter, which predicate pushdown would rewrite into
    // the join condition and thereby evaluate the intersect twice per
    // edge. `ws` stays a projected column used 3× — CollapseProject
    // leaves it materialized, so the walk runs exactly once per edge.
    val contrib = withCommon.select(explode(when(size($"ws") === 0,
        array().cast(ArrayType(StructType(Seq(
          StructField("n", LongType, nullable = false),
          StructField("c", LongType, nullable = false))))))
      .otherwise(concat(
        array(struct($"u".as("n"), size($"ws").cast("long").as("c")),
              struct($"v".as("n"), size($"ws").cast("long").as("c"))),
        transform($"ws", w => struct(w.as("n"), lit(1L).as("c")))))).as("t"))
      .select($"t.n".as("n"), $"t.c".as("c"))
    contrib.groupBy($"n").agg(sum($"c").as("tri"))
      .join(bcast(deg), "n")
      .select($"n".as("node"), $"tri", $"deg")
  }

  val queries: Seq[GraftQuery] = Seq(

    // ----- g1: PageRank, 3 synchronous iterations, damping 0.85. The
    // bipartite edge set is made symmetric (both directions) so every node
    // has in- and out-degree — no dangling-mass redistribution term needed.
    GraftQuery("g1_pagerank", (s, d) => {
      import s.implicits._
      val edges = bipartiteEdges(s, d)
      val withDeg = edges.join(
        edges.groupBy($"src").agg(count(lit(1)).as("deg")), "src")
      var rank = edges.select($"src".as("node")).distinct()
        .withColumn("r", lit(1000000L))
      for (_ <- 1 to 3) {
        rank = withDeg.join(rank.withColumnRenamed("node", "src"), "src")
          .select($"dst", expr("r div deg").as("c"))
          .groupBy($"dst")
          .agg(sum($"c").as("sc"))
          .select($"dst".as("node"), (lit(150000L) + expr("(85 * sc) div 100")).as("r"))
      }
      rank.select($"node", $"r".as("rank")).orderBy($"node")
    }, Some("""
      WITH pairs AS (SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
                     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT sk AS src, ck + 100000 AS dst FROM pairs
                UNION ALL SELECT ck + 100000, sk FROM pairs),
      deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r
             FROM (SELECT DISTINCT src FROM edges)),
      r1 AS (SELECT e.dst AS node, 150000 + (85 * SUM(r.r // d.deg)) // 100 AS r
             FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
             GROUP BY e.dst),
      r2 AS (SELECT e.dst AS node, 150000 + (85 * SUM(r.r // d.deg)) // 100 AS r
             FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
             GROUP BY e.dst),
      r3 AS (SELECT e.dst AS node, 150000 + (85 * SUM(r.r // d.deg)) // 100 AS r
             FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
             GROUP BY e.dst)
      SELECT node, CAST(r AS BIGINT) AS rank FROM r3 ORDER BY node""")),

    // ----- g2: multi-source BFS hop counts, 3 synchronous rounds — the
    // bounded-radius reachability pass (crawl frontier expansion, blast-
    // radius queries). Seeds are every-5th supplier at distance 0 (non-empty
    // at every test SF, so the gate never passes vacuously);
    // each round expands the whole current label set through the edge
    // list and re-minimizes per node, so after round i every node holds
    // its exact shortest distance over paths of length <= i. The edge
    // list is localCheckpoint'd once (it is re-joined every round — at
    // scale this is the cached/materialized edge table every graph engine
    // keeps); per-round work is one equi join + one hash agg, no driver
    // state. The DuckDB oracle is a recursive CTE over the same edges
    // with UNION (per-level dedup) and MIN(dist) per node.
    GraftQuery("g2_bfs_levels", (s, d) => {
      import s.implicits._
      val edges = bipartiteEdges(s, d).localCheckpoint(true)
      var dist = T.supplier(s, d).filter($"s_suppkey" % 5 === 0)
        .select($"s_suppkey".as("node"), lit(0L).as("dist"))
      for (_ <- 1 to 3) {
        val next = edges.join(dist.withColumnRenamed("node", "src"), "src")
          .select($"dst".as("node"), ($"dist" + 1L).as("dist"))
        dist = dist.union(next).groupBy($"node").agg(min($"dist").as("dist"))
      }
      dist.orderBy($"node")
    }, Some("""
      WITH pairs AS (SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
                     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT sk AS src, ck + 100000 AS dst FROM pairs
                UNION ALL SELECT ck + 100000, sk FROM pairs),
      rec AS (
        WITH RECURSIVE bfs(node, dist) AS (
          SELECT s_suppkey, 0 FROM supplier WHERE s_suppkey % 5 = 0
          UNION
          SELECT e.dst, bfs.dist + 1 FROM edges e JOIN bfs ON e.src = bfs.node
          WHERE bfs.dist < 3)
        SELECT node, MIN(dist) AS dist FROM bfs GROUP BY node)
      SELECT node, CAST(dist AS BIGINT) AS dist FROM rec ORDER BY node""")),

    // ----- g3: connected components via large-star/small-star over the
    // thresholded part co-occurrence graph (pairs sharing >= 2 orders —
    // sparse enough to have real component structure at every test SF:
    // 1 / 8 / 2308 components at sf0.001/0.01/0.1). The DuckDB oracle
    // computes exact components independently (recursive reachability
    // closure + MIN label), so the hash match proves both the rewriting's
    // fixpoint labels and the convergence flag. See [[ccLargeSmallStar]]
    // for the scale contract vs the n6 label-propagation path.
    GraftQuery("g3_connected_components", (s, d) => {
      import s.implicits._
      val (labels, converged) = ccLargeSmallStar(coOccurrenceEdges(s, d, minOrders = 2))
      labels.select($"node", $"comp", lit(converged).as("converged"))
        .orderBy($"node")
    }, Some("""
      WITH RECURSIVE
      lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS (SELECT u, v FROM (
        SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2) t WHERE n >= 2),
      edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      reach(node, lab) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        UNION
        SELECT e.v, reach.lab FROM edges e JOIN reach ON e.u = reach.node)
      SELECT node, MIN(lab) AS comp, TRUE AS converged
      FROM reach GROUP BY node ORDER BY node"""), bench = true),

    // ----- g4: triangle counting + local clustering coefficient over the
    // (unthresholded) part co-occurrence graph. Spark runs the
    // degree-oriented algorithm (Suri & Vassilvitskii, WWW'11): each edge
    // is oriented from its lexicographically smaller (degree, id) endpoint,
    // so out-degree is bounded by O(sqrt(m)) even at a power-law hub, and
    // every triangle is found exactly once — as the sorted-adjacency
    // intersection N+(u) ∩ N+(v) of the one edge whose endpoints both
    // point at the third corner (see triangleCounts: the r16 wedge-stream
    // materialization + hash closure probe measured 46 s of task time at
    // sf0.1; the merge walk replaces both). Plan shape: when the
    // adjacency fits the size cap (edgeBroadcastCap — 8x
    // autoBroadcastJoinThreshold by default) it is BROADCAST into both
    // attach joins, so the edge list never hits a shuffle — attach,
    // intersect, and the per-node partial aggregate run inside one
    // whole-stage-codegen pass. Past the cap (~sf10 for this graph) the
    // size switch in triangleCounts drops the hints and the identical
    // dataflow runs as shuffle joins instead of OOMing an executor
    // (adjacency rows stay O(sqrt(m)) wide, so no row outgrows a
    // partition either way). The oracle counts
    // the same triangles naively (a<b<c triple join) —
    // orientation-independence of the per-node counts makes the hash match
    // exact. cc_ppm is the local clustering coefficient in integer
    // parts-per-million (floor division; wedges = deg*(deg-1)/2 from the
    // undirected degree).
    GraftQuery("g4_triangle_count", (s, d) => {
      import s.implicits._
      val perNode = triangleCounts(coOccurrenceEdges(s, d, minOrders = 1))
        .localCheckpoint(true) // reused for the total; keeps the plan single-pass
      val totalDf = perNode.agg((coalesce(sum($"tri"), lit(0L)) / 3).cast("long").as("total_tri"))
      perNode
        .select($"node", $"tri", $"deg",
          expr("(1000000 * tri) div (deg * (deg - 1) div 2)").as("cc_ppm"))
        .crossJoin(broadcast(totalDf))
        .orderBy($"tri".desc, $"node").limit(20)
    }, Some("""
      WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      t AS (SELECT x.u AS a, x.v AS b, y.v AS c
            FROM e x JOIN e y ON x.v = y.u JOIN e z ON z.u = x.u AND z.v = y.v),
      pn AS (SELECT n, COUNT(*) AS tri FROM (
               SELECT a AS n FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t) q
             GROUP BY n),
      deg AS (SELECT n, COUNT(*) AS deg FROM (
               SELECT u AS n FROM e UNION ALL SELECT v FROM e) q GROUP BY n),
      tot AS (SELECT COUNT(*) AS total_tri FROM t)
      SELECT pn.n AS node, pn.tri, deg.deg,
        (1000000 * pn.tri) // ((deg.deg * (deg.deg - 1)) // 2) AS cc_ppm,
        tot.total_tri
      FROM pn JOIN deg ON pn.n = deg.n CROSS JOIN tot
      ORDER BY pn.tri DESC, node LIMIT 20"""), bench = true)
  )
}
