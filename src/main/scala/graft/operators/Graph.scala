package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load

/** Hierarchy flattening by POINTER DOUBLING (Wyllie's list-ranking /
  * Blelloch's pointer jumping): every node of a parent forest learns
  * its ROOT and DEPTH in O(log depth) rounds of one shuffled
  * self-equi-join each — the distributed answer to a recursive CTE,
  * which walks one edge per iteration (O(depth) rounds) and is the
  * form engines without recursion cannot run at all.
  *
  * Each round composes the current ancestor pointer with itself:
  * A'(x) = A(A(x)), depth'(x) = depth(x) + depth(A(x)). A root is its
  * own ancestor at depth 0, so composition through a root is a fixed
  * point and the loop converges once every pointer rests on a root —
  * the driver checks ONE count per round (the [[KMeans]] discipline:
  * KB-scale driver decisions, corpus stays out).
  *
  * The graded forest is a pure md5 function of `customer`: nodes
  * < [[RootBound]] are roots, every other node's parent is
  * `hex8(md5(node#p)) % node` — strictly smaller, so chains terminate
  * and expected depth is O(log n). DuckDB reproduces the forest
  * exactly and walks it with a RECURSIVE CTE — the two engines reach
  * the identical flattening through structurally different algorithms,
  * which is precisely what the hash oracle should pin (graded
  * `graph_roots`, both scales).
  *
  * Scale shape: rounds × (self-equi-join on the ancestor key + a
  * count) — every join is key-partitioned with no broadcast of the
  * corpus-sized side; `localCheckpoint` per round caps lineage. At
  * 100 TB a depth-1000 hierarchy costs 10 rounds.
  */
object Graph {

  /** Nodes below this are forest roots. */
  val RootBound = 10L

  private def hex8(e: Column): Column =
    conv(substring(md5(e), 1, 8), 16, 10).cast("long")

  /** The md5 parent forest over customer keys. */
  private[operators] def parentForest(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "customer").select(col("c_custkey").as("node"),
      when(col("c_custkey") < RootBound, col("c_custkey"))
        .otherwise(hex8(concat(col("c_custkey").cast("string"), lit("#p")))
          % col("c_custkey")).as("parent"))

  /** Root + depth per node over any (node, parent) forest — parents
    * must be acyclic (roots self-parented or flagged by node==parent).
    */
  def rootsFor(parents: DataFrame): DataFrame = {
    var st = parents.select(col("node"),
      col("parent").as("anc"),
      when(col("parent") === col("node"), 0L).otherwise(1L).as("depth"))
      .localCheckpoint(eager = true)
    var remaining = 1L
    while (remaining > 0) {
      val hop = st.select(col("node").as("j_node"), col("anc").as("j_anc"),
        col("depth").as("j_depth"))
      st = st.join(hop, col("anc") === col("j_node"))
        .select(col("node"), col("j_anc").as("anc"),
          (col("depth") + col("j_depth")).as("depth"))
        .localCheckpoint(eager = true)
      // converged when every pointer is a fixed point (rests on a root)
      remaining = st.as("a")
        .join(st.select(col("node").as("n2"), col("anc").as("anc2")),
          col("a.anc") === col("n2"))
        .filter(col("anc2") =!= col("a.anc")).count()
    }
    st.select(col("node"), col("anc").as("root"), col("depth"))
  }

  /** Graded `graph_roots`: the md5 forest flattened, against DuckDB's
    * recursive-CTE walk.
    */
  def graphRoots(s: SparkSession, dir: String): DataFrame =
    rootsFor(parentForest(s, dir)).orderBy(col("node"))

  /** PageRank iterations served by [[pagerankFor]]. Fixed (not
    * convergence-driven) so the plan is ONE deterministic declarative
    * tree — the oracle unrolls the same three rounds as chained CTEs.
    */
  val PrIters = 3

  /** Per-node out-degree of the md5 edge set. */
  val PrOutEdges = 3

  /** Damping factor numerator/denominator as exact doubles. */
  private val Damp = 0.85
  private val Jump = 0.15

  /** The md5 multigraph over customer keys: node n emits
    * [[PrOutEdges]] edges to `hex8(md5(n#e<i>)) % N` — keys are
    * 0..N−1 contiguous, so every target is a real node and no node
    * dangles (out-degree is exactly [[PrOutEdges]] by construction;
    * duplicate targets and self-loops are legitimate multigraph edges
    * and both engines weight them identically).
    */
  private[operators] def edgeSet(s: SparkSession, dir: String): DataFrame = {
    val cust = load(s, dir, "customer")
    val n = cust.count()
    cust.select(col("c_custkey").cast("long").as("src"),
        explode(array((1 to PrOutEdges).map(i =>
          hex8(concat(col("c_custkey").cast("string"), lit(s"#e$i"))) % n
        ): _*)).as("dst"))
  }

  /** Fixed-iteration PageRank over any (src, dst) edge frame — the
    * link-analysis primitive (Page et al. 1999; also the quality
    * signal Common-Crawl-scale curation pipelines compute over the
    * web/hostname graph before sampling).
    *
    * Exactness contract (so the WHOLE power iteration hash-oracles in
    * DuckDB): ranks live as scale-12 DECIMAL. Per round, each edge's
    * contribution is `round(rank/outdeg, 12)` — ONE IEEE division then
    * a fixed rounding — and the per-node inflow is an exact DECIMAL
    * sum (order-free under any partitioning); the new rank is
    * `round(jump/N + damp·inflow, 12)` — one short IEEE chain per
    * node per round. Dangling mass: none by construction here
    * (out-degree ≥ 1); the operator drops mass from any node absent in
    * `edges` (both engines identically), the standard simplification.
    *
    * Scale shape: each round is one shuffled equi-join (edges ⋈ ranks
    * on src — both corpus-sized at web scale, so the rank leg carries
    * a `shuffle_hash` hint) plus one map-side-combinable sum into dst;
    * the node frame re-enters by left join so zero-inflow nodes keep
    * the jump term. Rounds are a constant — the plan is a fixed
    * declarative tree, no driver loop state, nothing collected.
    */
  def pagerankFor(nodes: DataFrame, edges: DataFrame, n: Long,
      iters: Int = PrIters): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val e = edges.join(deg, "src")
    val r0 = nodes.select(col("node"),
      round(lit(1.0) / n, 12).cast("decimal(38,12)").as("r"))
    (1 to iters).foldLeft(r0) { (r, _) =>
      val inflow = e.join(r.hint("shuffle_hash"),
          e("src") === r("node"))
        .select(col("dst"),
          round(col("r").cast("double") / col("deg").cast("double"), 12)
            .cast("decimal(38,12)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      nodes.join(inflow, nodes("node") === inflow("dst"), "left")
        .select(col("node"),
          round(lit(Jump) / n
              + lit(Damp) * coalesce(col("s"), lit(0)).cast("double"), 12)
            .cast("decimal(38,12)").as("r"))
    }
  }

  /** Graded `graph_pagerank`: three rounds over the md5 multigraph,
    * against DuckDB's unrolled-CTE power iteration.
    */
  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val cust = load(s, dir, "customer")
    val nodes = cust.select(col("c_custkey").cast("long").as("node"))
    pagerankFor(nodes, edgeSet(s, dir), cust.count())
      .select(col("node"), round(col("r").cast("double"), 9).as("rank"))
      .orderBy(col("node"))
  }

  /** WEIGHTED PageRank over any (src, dst, w) edge frame — w exact
    * integers. Same exactness contract as [[pagerankFor]], with the
    * contribution split by weight share instead of out-degree:
    * `round(rank · w / W_src, 12)` — w and W_src are exact integers,
    * so the share is still ONE IEEE chain per edge per round.
    */
  def pagerankWeighted(nodes: DataFrame, edges: DataFrame, n: Long,
      iters: Int = PrIters): DataFrame = {
    val wOut = edges.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val e = edges.join(wOut, "src")
    val r0 = nodes.select(col("node"),
      round(lit(1.0) / n, 12).cast("decimal(38,12)").as("r"))
    (1 to iters).foldLeft(r0) { (r, _) =>
      val inflow = e.join(r.hint("shuffle_hash"), e("src") === r("node"))
        .select(col("dst"),
          round(col("r").cast("double") * col("w").cast("double")
            / col("wout").cast("double"), 12)
            .cast("decimal(38,12)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      nodes.join(inflow, nodes("node") === inflow("dst"), "left")
        .select(col("node"),
          round(lit(Jump) / n
              + lit(Damp) * coalesce(col("s"), lit(0)).cast("double"), 12)
            .cast("decimal(38,12)").as("r"))
    }
  }

  /** Graded `graph_pagerank_trade`: PageRank over the REAL trade
    * graph — supplier nation → customer nation, edge weight = exact
    * revenue cents aggregated from lineitem⋈orders⋈customer⋈supplier.
    * The md5 sibling above verifies the iteration machinery on an
    * adversarially-random graph; this row verifies the full pipeline
    * from fact tables to a semantic graph readout (which trading
    * nations are central, volume-weighted). 25 nodes — the graph is
    * tiny, the JOINS that build it are the corpus-sized work, and
    * they are all key equi-joins.
    */
  def graphPagerankTrade(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
    val o = load(s, dir, "orders")
    val c = load(s, dir, "customer")
    val su = load(s, dir, "supplier")
    val nation = load(s, dir, "nation")
    val edges = li
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .select(su("s_nationkey").cast("long").as("src"),
        c("c_nationkey").cast("long").as("dst"),
        round(li("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("cents")).as("w"))
    val nodes = nation.select(col("n_nationkey").cast("long").as("node"))
    pagerankWeighted(nodes, edges, nation.count())
      .select(col("node"), round(col("r").cast("double"), 9).as("rank"))
      .orderBy(col("node"))
  }

  /** Graded `graph_triangles`: per-nation triangle count and local
    * clustering coefficient over the UNDIRECTED strong-trade graph —
    * nation pairs whose traded cents exceed the MEAN pairwise volume
    * (an above-average-edge rule, so the graph stays non-complete and
    * data-determined at every scale; the compare is the exact integer
    * cross-multiply w·n_pairs > Σw, no division — overflow headroom
    * to 2^63 covers 1e15 cents × thousands of pairs). Triangle
    * counting is the standard community-density probe; the local
    * coefficient 2T/(d(d−1)) says how clique-like each nation's
    * trading neighborhood is.
    *
    * Scale shape: the corpus-sized work is the same fact-table
    * equi-joins as [[graphPagerankTrade]]; the triangle join runs on
    * the ORIENTED edge list (a < b < c canonical order — each
    * triangle materializes exactly once, the classic way to avoid
    * 6× duplication and the join-explosion of unoriented matching).
    * On a billion-edge graph the oriented two-hop join is the
    * MapReduce-standard NodeIterator++ (Suri & Vassilvitskii 2011);
    * degrees and counts are exact integers, the coefficient one IEEE
    * division under round 6.
    */
  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
    val o = load(s, dir, "orders")
    val c = load(s, dir, "customer")
    val su = load(s, dir, "supplier")
    val vol = li
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .select(su("s_nationkey").cast("long").as("src"),
        c("c_nationkey").cast("long").as("dst"),
        round(li("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("cents"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("cents")).as("w"))
    val totals = vol.agg(count(lit(1)).as("n_pairs"),
      sum(col("w")).as("total_w"))
    val edges = vol.crossJoin(broadcast(totals))
      .filter(col("w") * col("n_pairs") > col("total_w"))
      .select(col("a"), col("b")).cache()
    // oriented two-hop: (a<b) x (b<c) closed by (a<c)
    val tri = edges.toDF("a", "b")
      .join(edges.toDF("b", "c"), "b")
      .join(edges.toDF("a", "c"), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c")))
        .as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    val deg = edges.select(col("a").as("node"))
      .unionByName(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("triangles"), lit(0L))
            / (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
      .orderBy(col("node"))
  }

  /** BFS iteration bound for [[graphKhop]] — enough to exhaust any
    * component of the 25-node nation graph; on a bigger graph the
    * bound is the query's hop radius (k-hop neighborhoods are asked
    * with small fixed k). */
  val KhopIters = 6

  /** BFS seed rule for [[graphKhop]]: the smallest node key PRESENT
    * in the edge set — deterministic and never isolated (a fixed
    * literal seed degrades to a 1-row result at scale factors where
    * that nation clears no above-mean edge). */
  private def khopSeed(edges: DataFrame): DataFrame =
    edges.agg(min(col("u")).as("node"))
      .select(col("node"), lit(0).cast("int").as("hops"))

  /** Graded `graph_khop`: breadth-first hop distance from a seed
    * nation over the above-mean trade graph (the same edge rule as
    * [[graphTriangles]], undirected) — the k-hop neighborhood query
    * behind "everything within k suppliers of X" blast-radius and
    * graph-feature pipelines.
    *
    * Implementation is distributed frontier relaxation, not a driver
    * BFS: `dist` starts as {seed → 0} and each of the [[KhopIters]]
    * fixed rounds joins the CURRENT dist frame to the edge list and
    * keeps `min(known, via-neighbor + 1)` per node. Because hop
    * counts only shrink, the fold is monotone and [[KhopIters]]
    * rounds exactly compute min-distance ≤ [[KhopIters]] — all
    * integer arithmetic, no float anywhere, so the oracle is DuckDB's
    * recursive CTE over the same edges.
    *
    * Scale shape: per round one equi-join dist ⋈ edges on node plus
    * one map-side-combinable min — the Pregel superstep expressed
    * declaratively ([[pagerankFor]]'s shape with min instead of sum).
    * The heavy work is building the edge list from the fact tables
    * (one aggregation shuffle); each round then touches frames
    * bounded by nodes + edges, never the fact tables again. The
    * edge frame is cached (every round joins it); the dist frame is
    * `localCheckpoint`ed per round — the union references the
    * previous dist TWICE per round (join leg + union leg), so an
    * un-cut fold grows the logical plan GEOMETRICALLY (2^rounds), not
    * linearly, and re-analysis alone cost 13.5 s at sf0.1 before the
    * cut. Checkpointing the hop-count frame (12 bytes/node) per round
    * keeps the analyzed plan one round deep.
    */
  def graphKhop(s: SparkSession, dir: String): DataFrame = {
    val kept = tradeEdges(s, dir)
    val edges = kept.select(col("a").as("u"), col("b").as("v"))
      .unionByName(kept.select(col("b").as("u"), col("a").as("v")))
      .cache()
    khopFor(edges)
  }

  /** The above-mean undirected trade edge set (the [[graphTriangles]]
    * / [[graphKhop]] keep rule) as canonical (a < b) pairs. */
  private[operators] def tradeEdges(s: SparkSession, dir: String)
      : DataFrame = {
    val li = load(s, dir, "lineitem")
    val o = load(s, dir, "orders")
    val c = load(s, dir, "customer")
    val su = load(s, dir, "supplier")
    val vol = li
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .select(su("s_nationkey").cast("long").as("src"),
        c("c_nationkey").cast("long").as("dst"),
        round(li("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("cents"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("cents")).as("w"))
    val totals = vol.agg(count(lit(1)).as("n_pairs"),
      sum(col("w")).as("total_w"))
    vol.crossJoin(broadcast(totals))
      .filter(col("w") * col("n_pairs") > col("total_w"))
      .select(col("a"), col("b"))
  }

  /** Graded `graph_common_neighbors`: the common-neighbors /
    * neighborhood-Jaccard link-prediction features (Liben-Nowell &
    * Kleinberg 2003) over the trade graph — for every node pair with
    * at least one shared neighbor, |N(a)∩N(b)|, the Jaccard
    * |N(a)∩N(b)| / |N(a)∪N(b)|, and whether the pair is ALREADY an
    * edge (the label a link-prediction trainer fits against).
    *
    * Exactness: common-neighbor and degree counts are exact integers
    * off equi-joins; |N(a)∪N(b)| = deg(a)+deg(b)−common by
    * inclusion-exclusion (a,b adjacency does not enter — neighbor
    * SETS only); Jaccard is ONE division, round 6.
    *
    * Scale shape: the pair enumeration is the oriented two-hop join
    * [[graphTriangles]] uses (wedge enumeration through the shared
    * neighbor — never nodes² pairs; candidate pairs are exactly the
    * wedges, Σ_x deg(x)², the quantity a degree-capped or salted
    * variant bounds on power-law graphs); degrees and the edge label
    * join against frames no bigger than the edge list.
    */
  def graphCommonNeighbors(s: SparkSession, dir: String): DataFrame = {
    val e = tradeEdges(s, dir).cache()
    // both orientations: x is the shared neighbor in (u—x, x—v)
    val adj = e.select(col("a").as("u"), col("b").as("x"))
      .unionByName(e.select(col("b").as("u"), col("a").as("x")))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val wedges = adj.toDF("u", "x")
      .join(adj.toDF("v", "x"), "x")
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common"))
    wedges
      .join(deg.toDF("u", "deg_u"), "u")
      .join(deg.toDF("v", "deg_v"), "v")
      .join(e.select(col("a").as("u"), col("b").as("v"),
        lit(true).as("is_edge")), Seq("u", "v"), "left")
      .select(col("u"), col("v"), col("common"),
        col("deg_u"), col("deg_v"),
        round(col("common").cast("double")
          / (col("deg_u") + col("deg_v") - col("common")).cast("double"),
          6).as("jaccard"),
        coalesce(col("is_edge"), lit(false)).as("is_edge"))
      .orderBy(col("u"), col("v"))
  }

  /** Graded `graph_assortativity`: the degree-assortativity
    * coefficient (Newman 2002) of the trade graph — the Pearson
    * correlation of endpoint degrees over the DIRECTED edge list
    * (each undirected edge counted in both orientations, the standard
    * convention that symmetrizes the correlation). Negative r means
    * hubs attach to spokes (disassortative, typical for
    * infrastructure/trade); positive means hubs cluster.
    *
    * Exactness: the six sums are exact DECIMAL off integer degrees;
    * the [[graft.operators.Regression]] normal-equation chain
    * (numerator exact, two sqrts, one division) closes under round 6.
    * Scale shape: one degree aggregation, one equi-join decorating
    * each edge with both endpoint degrees, one six-sum fold — all
    * map-side combinable, 1-row output.
    */
  def graphAssortativity(s: SparkSession, dir: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val e = tradeEdges(s, dir)
    val dirEdges = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    val deg = dirEdges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val pairs = dirEdges
      .join(deg.toDF("u", "x"), "u")
      .join(deg.toDF("v", "y"), "v")
    pairs.agg(count(lit(1)).as("n_ends"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
      .select(col("n_ends"),
        round((col("n_ends") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
          / (sqrt((col("n_ends") * col("sxx") - col("sx") * col("sx"))
              .cast("double"))
            * sqrt((col("n_ends") * col("syy") - col("sy") * col("sy"))
              .cast("double"))), 6).as("assortativity"))
  }

  /** Core order for [[graphKcore]]. */
  val CoreK = 3

  /** Upper bound on [[graphKcore]]'s peeling rounds — the same
    * fixed-iteration contract as [[PrIters]]/[[KhopIters]]: enough to
    * converge on the nation graph, and the depth the DuckDB oracle
    * unrolls. The peel stops earlier at its fixpoint (a round that
    * removes no edge); a graph whose degeneracy-peel depth exceeds
    * the bound gets the bound's answer. */
  val KcoreRounds = 6

  /** Graded `graph_kcore`: the k-core of the trade graph (Seidman
    * 1983) — the maximal subgraph where every node keeps ≥ k
    * neighbors, the standard "dense backbone" extraction run before
    * community/robustness analysis (and the cheapest useful
    * decomposition on billion-edge graphs: peeling is
    * degree-threshold filtering, no search).
    *
    * Distributed peeling, at most [[KcoreRounds]] rounds: each round
    * recomputes degrees over the SURVIVING edge set and drops every
    * node below [[CoreK]] with its edges — a monotone shrink, so
    * rounds beyond convergence are no-ops and the loop stops at the
    * first one (all integer arithmetic; the DuckDB oracle unrolls all
    * [[KcoreRounds]] rounds as CTE stages and gets the same rows).
    * Readout: surviving nodes with their in-core degree.
    *
    * Scale shape: per round one map-side-combinable degree count
    * plus two semi-join-shaped filters of the edge list against the
    * kept-node frame (broadcast when nodes fit, shuffle otherwise) —
    * the Pregel peel. The edge list only ever shrinks.
    */
  def graphKcore(s: SparkSession, dir: String): DataFrame = {
    val e0 = tradeEdges(s, dir).cache()
    kcoreFor(e0)
  }

  /** [[graphKcore]]'s peel over any canonical (a < b) undirected edge
    * frame.
    *
    * Lineage discipline: each round references the previous round's
    * edge frame ~5× (degree union ×2 + two left_semi probes), so an
    * un-cut fold grows the LOGICAL plan geometrically — 5^rounds
    * copies of the upstream subtree, which stalls the ANALYZER before
    * a single task runs (the r11 failure: 5⁶ ≈ 15.6k copies of the
    * 4-table tradeEdges join hung Catalyst's tree walks for >20 min).
    * A `localCheckpoint` on each round's survivor frame truncates
    * lineage to the materialized partitions — the same per-round cut
    * [[rootsFor]] applies — so the plan Catalyst sees is always one
    * round deep. The checkpoint is the narrow 16-byte edge frame,
    * never the fact tables.
    *
    * Fixpoint: edge sets only shrink, so a round that keeps as many
    * edges as it was given changed nothing, and every later round
    * would return the same set. The round's edge count is the one RDD
    * job that materializes its (lazy) checkpoint, the job an eager
    * checkpoint would run anyway, so the stop test costs no extra job;
    * the first round has no count to compare with and always runs.
    */
  private[operators] def kcoreFor(e0: DataFrame,
      k: Int = CoreK, rounds: Int = KcoreRounds): DataFrame = {
    @annotation.tailrec
    def peel(e: DataFrame, edges: Long, left: Int): DataFrame =
      if (left == 0) e
      else {
        val deg = e.select(col("a").as("node"))
          .unionByName(e.select(col("b").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        val kept = deg.filter(col("deg") >= k).select(col("node"))
        val next = e.join(kept.toDF("a"), Seq("a"), "left_semi")
          .join(kept.toDF("b"), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
          .localCheckpoint(eager = false)
        // one RDD job: materializes the checkpoint while it counts
        val n = next.queryExecution.toRdd.count()
        if (n == edges) next else peel(next, n, left - 1)
      }
    val survived = peel(e0, -1L, rounds)
    survived.select(col("a").as("node"))
      .unionByName(survived.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_degree"))
      .filter(col("core_degree") >= k)
      .orderBy(col("node"))
  }

  /** [[graphKhop]]'s frontier relaxation over any DIRECTED (u, v)
    * edge frame (callers pass both orientations for undirected
    * graphs) — the seam the planted-chain spec drives. */
  private[operators] def khopFor(edges: DataFrame,
      iters: Int = KhopIters): DataFrame = {
    val dist = (1 to iters).foldLeft(khopSeed(edges)) { (d, _) =>
      val relaxed = d.join(edges, d("node") === edges("u"))
        .select(col("v").as("node"), (col("hops") + 1).as("hops"))
      d.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("hops")).as("hops"))
        .localCheckpoint(eager = true)
    }
    dist.orderBy(col("node"))
  }

  /** [[tradeEdges]] with an exact small-integer edge cost kept: the
    * same above-mean canonical (a < b) pairs, each carrying
    * `cost = (w mod 7) + 1` derived from the cents volume — a
    * deterministic weight in 1..7 that both engines compute with one
    * integer op. A SEPARATE builder (not a projection of a shared
    * weighted frame) so [[tradeEdges]]' committed query plans stay
    * byte-identical.
    */
  private[operators] def tradeEdgesWeighted(s: SparkSession,
      dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
    val o = load(s, dir, "orders")
    val c = load(s, dir, "customer")
    val su = load(s, dir, "supplier")
    val vol = li
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .select(su("s_nationkey").cast("long").as("src"),
        c("c_nationkey").cast("long").as("dst"),
        round(li("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("cents"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("cents")).as("w"))
    val totals = vol.agg(count(lit(1)).as("n_pairs"),
      sum(col("w")).as("total_w"))
    vol.crossJoin(broadcast(totals))
      .filter(col("w") * col("n_pairs") > col("total_w"))
      .select(col("a"), col("b"), (col("w") % 7 + 1).as("cost"))
  }

  /** Propagation rounds for [[graphLabelprop]] — the [[KhopIters]]
    * contract: after r rounds each node holds the min id within r
    * hops, so `rounds ≥ component diameter` converges to connected
    * components; the spec pins that one extra round is a no-op on a
    * planted path. */
  val LabelpropRounds = 6

  /** Graded `graph_labelprop`: connected components by min-label
    * propagation (the Pregel/GraphX "connected components" algorithm
    * — each node repeatedly adopts the smallest label in its closed
    * neighborhood) over the above-mean trade graph, with component
    * sizes. The DuckDB oracle unrolls the SAME [[LabelpropRounds]]
    * bounded rounds as CTE stages (the [[kcoreFor]]/[[ssspFor]]
    * precedent) — a fixpoint oracle would silently diverge the
    * moment a component's eccentricity exceeds the round count.
    *
    * Scale shape: per round one equi-join of the node-sized label
    * frame against the edge list + one min aggregation — the
    * label-propagation step every bulk-synchronous graph engine
    * runs. Lineage discipline: the label frame is referenced twice
    * per round (join leg + union leg), so each round ends in
    * `localCheckpoint(eager = true)` — the per-round cut of
    * [[kcoreFor]]; the checkpoint is the 16-byte-per-node label frame.
    */
  def graphLabelprop(s: SparkSession, dir: String): DataFrame = {
    val e = tradeEdges(s, dir)
    val edges = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      .cache()
    labelpropFor(edges)
  }

  /** [[graphLabelprop]]'s fold over any DIRECTED (u, v) edge frame
    * (pass both orientations for undirected) — the spec seam. */
  private[operators] def labelpropFor(edges: DataFrame,
      rounds: Int = LabelpropRounds): DataFrame = {
    val init = edges.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    val labels = (1 to rounds).foldLeft(init) { (l, _) =>
      val viaNbr = l.join(edges, l("node") === edges("u"))
        .select(col("v").as("node"), col("label"))
      l.unionByName(viaNbr)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .localCheckpoint(eager = true)
    }
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("component_size"))
    labels.join(sizes, Seq("label"))
      .select(col("node"), col("label"), col("component_size"))
      .orderBy(col("node"))
  }

  /** Relaxation rounds for [[graphSssp]] — Bellman–Ford's bound is
    * the longest minimal path in EDGES; after r rounds every node
    * holds the exact min cost over paths of ≤ r edges (the spec pins
    * the weighted-chain case where the cheap path is the LONG way
    * around). */
  val SsspRounds = 6

  /** Graded `graph_sssp`: single-source shortest paths by bounded
    * Bellman–Ford over the weighted trade graph ([[tradeEdgesWeighted]],
    * both orientations), seeded like [[khopSeed]] at the smallest
    * present node. [[graphKhop]] is the cost≡1 special case; the
    * weighted form is the real blast-radius/logistics query.
    *
    * Scale shape and lineage discipline are [[khopFor]]'s: per round
    * one frontier equi-join + one min aggregation over the
    * node-sized dist frame, `localCheckpoint(eager = true)` per
    * round because the fold references `d` twice (geometric growth
    * otherwise — the r11 lesson, pre-applied).
    */
  def graphSssp(s: SparkSession, dir: String): DataFrame = {
    val kept = tradeEdgesWeighted(s, dir)
    val edges = kept
      .select(col("a").as("u"), col("b").as("v"), col("cost"))
      .unionByName(
        kept.select(col("b").as("u"), col("a").as("v"), col("cost")))
      .cache()
    ssspFor(edges)
  }

  /** [[graphSssp]]'s relaxation over any DIRECTED (u, v, cost)
    * frame — the spec seam. */
  private[operators] def ssspFor(edges: DataFrame,
      rounds: Int = SsspRounds): DataFrame = {
    val seed = edges.agg(min(col("u")).as("node"))
      .select(col("node"), lit(0L).as("dist"))
    val dist = (1 to rounds).foldLeft(seed) { (d, _) =>
      val relaxed = d.join(edges, d("node") === edges("u"))
        .select(col("v").as("node"),
          (col("dist") + col("cost")).as("dist"))
      d.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(eager = true)
    }
    dist.orderBy(col("node"))
  }
}
