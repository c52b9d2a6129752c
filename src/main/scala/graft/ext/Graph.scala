package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BloomExpressions
import graft.sources.Lake
import graft.sources.Lake.Derived

/** Graph analytics over lake-derived entity graphs — the curation
  * step that needs *global* structure rather than per-row features
  * (x18's connected components are the clustering sibling; this file
  * holds the centrality side).
  *
  * The demo graph is the part↔supplier bipartite graph implied by
  * `lineitem` (an edge per distinct (l_partkey, l_suppkey) pair,
  * undirected = both directions materialized). In a training-data
  * pipeline the same operator ranks domains in a crawl's link graph
  * to weight sampling (the "domain authority" feature quality
  * classifiers consume).
  *
  * Arithmetic is FIXED-POINT INTEGER throughout (ranks scaled by
  * 10¹², divisions are integer DIV): floating-point power iteration
  * is order-sensitive under parallel summation, so a double-typed
  * PageRank can differ run-to-run and engine-to-engine; bigint sums
  * are exact and associative, which is what makes x69 a full
  * hash-oracle query instead of a rows-only sketch. The ~1 ulp/node
  * mass leak per iteration from flooring is deterministic and
  * identical in both engines.
  *
  * Scale shape (100 TB crawl graph):
  *  - the adjacency (edges + out-degree) is built once and persisted
  *    to the lake ([[Lake.materialize]]) — iterations re-read a
  *    compact columnar artifact instead of re-deriving from raw;
  *  - each iteration is one equi-join (ranks are node-sized, edges
  *    edge-sized; AQE picks broadcast only while ranks fit) plus one
  *    partial-aggregatable integer sum keyed by dst — shuffle volume
  *    is O(edges) longs, never payloads;
  *  - iteration count is a bounded constant (3), not convergence-
  *    polled, so the job graph is static and schedulable.
  */
object Graph {

  private type Q = (SparkSession, String) => DataFrame

  /** Rank scale: 1.0 of probability mass = 10¹² fixed-point units. */
  val RankScale = 1000000000000L

  /** Damping factor 0.85 expressed as the integer pair (85, 100). */
  private val DampNum = 85L
  private val DampDen = 100L

  /** HITS fixed-point scale: 10¹² (= [[RankScale]]). The r14 100×
    * probe retired the old 10⁶ scale: a sum-normalized distribution
    * over more nodes than the scale has units floors EVERY share to
    * zero (the 100× lake has 2·10⁷ parts), which read back as a
    * divide-by-zero in the next normalization. 10¹² gives per-node
    * resolution to 10¹² nodes; the normalize products v × scale (v up
    * to max-degree × scale) leave BIGINT, so [[hitsTwoRounds]]
    * computes each floor division exactly in DECIMAL(38,0) — the
    * x225 subtract-remainder form, ≡ DuckDB's HUGEINT `//`.
    */
  val HitsScale = 1000000000000L

  /** Adjacency with the out-degree riding each edge — so the loop's
    * contribution join is a single equi-join against the rank frame
    * and never re-derives the degree aggregate.
    */
  def adjacency(edges: DataFrame): DataFrame =
    edges.join(edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")

  /** Static per-node frame: uniform initial rank and teleport base
    * (0.15 · RankScale DIV n). Built once; the loop only joins it.
    * The node universe is src ∪ dst, so a DANGLING node (appears only
    * as a dst — no out-edges) is ranked too, flagged `has_out=false`
    * for the loop's dangling-mass aggregate, and carries `n_nodes`
    * so the redistribution share is computable in-row.
    */
  def nodeMeta(adj: DataFrame): DataFrame = {
    val srcs = adj.select(col("src")).distinct()
    val nodes = srcs.unionAll(adj.select(col("dst").as("src"))).distinct()
    val nNodes = broadcast(nodes.agg(count(lit(1)).as("n_nodes")))
    nodes.join(srcs.withColumn("_has_out", lit(true)), Seq("src"), "left")
      .crossJoin(nNodes)
      .select(col("src").as("node"),
        expr(s"${RankScale}L DIV n_nodes").as("init_fp"),
        expr(s"${RankScale * 15 / 100}L DIV n_nodes").as("base_fp"),
        coalesce(col("_has_out"), lit(false)).as("has_out"),
        col("n_nodes"))
  }

  /** `iters` rounds of the integer recurrence over prebuilt adjacency
    * and node-meta frames (lake-persisted in x69, in-plan in tests).
    * Each iteration references the PREVIOUS rank frame exactly once:
    * lineage depth is linear in iters (the naive shape that both
    * joins ranks and rebases off it doubles the subtree per round —
    * 2^iters plan growth), and because adj/meta are compact persisted
    * artifacts, every iteration is two equi-joins + one
    * partial-aggregatable integer sum with no upstream recompute. A
    * loop deep enough to outgrow even linear lineage would
    * lake-checkpoint the rank frame per round
    * ([[graft.sources.Lake.materialize]]), the batch form of
    * iterative checkpointing.
    *
    * NOT LAZY (ADVICE r17): constructing the frame runs one eager
    * node-sized Spark action (the dangling probe below) — explain-only
    * callers pay one evaluation of `meta`. Acceptable for every
    * registered caller (meta is a compact lake artifact); an in-plan
    * caller that needs laziness should materialize its meta first.
    */
  def iterate(adj: DataFrame, meta: DataFrame, iters: Int): DataFrame = {
    // One node-sized probe decides the dangling branch for the WHOLE
    // loop (the triangleEnum measured-gate idiom): meta is static
    // across iterations, so on a graph where every node has out-edges
    // — both symmetric arc frames and the bipartite both-directions
    // materialization, i.e. every registered caller — dm is exactly 0
    // every round and the aggregate + crossJoin computing it are the
    // identity on rank_fp (base + (d·(in + 0 DIV n)) DIV 100 ≡
    // base + (d·in) DIV 100). Skipping them removes one meta scan,
    // one join, one aggregate and one broadcast per iteration, and —
    // because the dm branch was the loop's SECOND reference to the
    // previous rank frame — restores the linear lineage the loop
    // scaladoc promises (with dm live, ranks_k's plan held two copies
    // of ranks_{k-1}: 2^iters subtree growth, ReusedExchange
    // notwithstanding). Graphs that DO carry dangling nodes keep the
    // exact uniform redistribution unchanged.
    val hasDangling = !meta.filter(!col("has_out")).isEmpty
    (1 to iters).foldLeft(
      meta.select(col("node"), col("init_fp").as("rank_fp"))) { (ranks, _) =>
      val contrib = adj
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("rank_fp DIV outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      val rejoined =
        meta.join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
      if (hasDangling) {
        // dangling mass: the rank held by no-out-edge nodes this round,
        // redistributed uniformly (dm DIV n per node — exact integer,
        // engine-reproducible). One node-sized aggregate to a 1-row
        // broadcast scalar per iteration.
        val dm = broadcast(
          meta.filter(!col("has_out")).select(col("node"))
            .join(ranks, "node")
            .agg(coalesce(sum(col("rank_fp")), lit(0L)).as("_dm")))
        rejoined.crossJoin(dm)
          .select(col("node"),
            expr(s"base_fp + ($DampNum * (coalesce(in_mass, 0) + " +
              s"_dm DIV n_nodes)) DIV $DampDen").as("rank_fp"))
      } else
        rejoined.select(col("node"),
          expr(s"base_fp + ($DampNum * coalesce(in_mass, 0)) DIV $DampDen")
            .as("rank_fp"))
    }
  }

  /** Fixed-point PageRank over a directed edge list (`src`, `dst`:
    * any equi-joinable type). The node universe is src ∪ dst:
    * dangling nodes (no out-edges) are ranked, and their mass is
    * redistributed uniformly each round — no caller contract to
    * close. Returns (node, rank_fp) with Σ rank_fp ≤ [[RankScale]]
    * (floor leak).
    */
  def pageRankFp(edges: DataFrame, iters: Int): DataFrame = {
    val adj = adjacency(edges)
    iterate(adj, nodeMeta(adj), iters)
  }

  /** x200's WEIGHTED PageRank over a directed (src, dst, w) arc frame
    * with integer weights: each round sends rank·w DIV Σw(src) along
    * every arc — x69's exact fixed-point recurrence with the uniform
    * out-split replaced by the weight-proportional one (a co-purchase
    * pair sharing 50 orders should pull 50× the rank mass of a
    * one-order coincidence). Same integer-exactness argument: every
    * per-arc contribution is one BIGINT floor-division, sums are
    * associative, so the readout takes a full hash oracle. Caller
    * contract: every node appears as a src (symmetric arc frames
    * satisfy this by construction — no dangling term needed; an
    * asymmetric caller routes through [[pageRankFp]]'s dangling
    * machinery instead). Per-iteration scale shape = x69's: one
    * arc-grain equi-join + one partial-aggregatable BIGINT sum.
    */
  def weightedPageRankFp(arcs: DataFrame, iters: Int): DataFrame = {
    val wsum = arcs.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    val adj = arcs.join(wsum, "src")
    val nodes = adj.select(col("src")).distinct()
    val nN = broadcast(nodes.agg(count(lit(1)).as("n_nodes")))
    val init = nodes.crossJoin(nN).select(col("src").as("node"),
      expr(s"${RankScale * 15 / 100}L DIV n_nodes").as("base_fp"),
      expr(s"${RankScale}L DIV n_nodes").as("rank_fp"))
    (1 to iters).foldLeft(init) { (ranks, _) =>
      val contrib = adj
        .join(ranks.select(col("node").as("src"), col("rank_fp")), "src")
        .select(col("dst"), expr("(rank_fp * w) DIV wsum").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      ranks.select(col("node"), col("base_fp"))
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"), col("base_fp"),
          expr(s"base_fp + ($DampNum * coalesce(in_mass, 0)) DIV $DampDen")
            .as("rank_fp"))
    }
  }

  /** The distinct directed (part p, supplier s) pairs x129/x145 read. */
  val HitsPairs: Derived = Derived("hits_pairs_v1")((spark, sfDir) =>
    Lake.table(spark, sfDir, "lineitem")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s")).distinct())

  /** x129's two HITS rounds over a distinct (p, s) directed pair
    * frame → (supplier, auth_fp). Exposed so property tests can drive
    * planted bipartite graphs through the exact Spark machinery.
    */
  def hitsTwoRounds(pairs: DataFrame): DataFrame = {
    // h0 is uniform, and the very next step sum-normalizes — so the
    // uniform CONSTANT is irrelevant and h0 = 1 is the right choice:
    // round-1 authority mass is the exact in-degree. (The r14 100×
    // probe caught the previous h0 = HitsScale DIV n_p flooring to
    // ZERO once the graph passes HitsScale nodes — an exact count has
    // no cliff at any scale.)
    val a1 = pairs
      .groupBy(col("s"))
      .agg(count(lit(1)).as("a1"))
    // exact floor division in DECIMAL(38,0) (x225's subtract-remainder
    // form, ≡ HUGEINT // in the oracle): the v·scale product leaves
    // BIGINT once scores carry degree × scale mass
    def normalize(df: DataFrame, v: String): DataFrame = {
      val tot = broadcast(df.agg(sum(col(v)).as("_t")))
      df.crossJoin(tot)
        .select(df.columns.filterNot(_ == v).map(col) :+
          expr(s"CAST(((CAST($v AS DECIMAL(38,0)) * ${HitsScale}L) - " +
            s"(CAST($v AS DECIMAL(38,0)) * ${HitsScale}L) % _t) / _t " +
            "AS BIGINT)").as(v): _*)
    }
    // FOLDED NORMALIZATION (VERDICT r17 #4): normalizing a score
    // frame BEFORE joining it into the next round serializes the AQE
    // stage chain — broadcast(total) must materialize before the
    // normalized frame exists, and only then can the frame itself be
    // broadcast into the adjacency join. Folding the floor-division
    // into the join's select instead makes the two broadcasts (the
    // 1-row total and the node-sized score frame) depend only on the
    // SAME aggregate, so AQE materializes them concurrently — one
    // broadcast-latency wait per round instead of two. Exactness:
    // the per-node normalized value floor(v·scale − (v·scale % T) / T)
    // is computed per adjacency row instead of per node row — the
    // same DECIMAL(38,0) expression on the same inputs, so every
    // summand (and the sum) is bit-identical to the unfolded form.
    def normExpr(v: String) =
      expr(s"CAST(((CAST($v AS DECIMAL(38,0)) * ${HitsScale}L) - " +
        s"(CAST($v AS DECIMAL(38,0)) * ${HitsScale}L) % _t) / _t " +
        "AS BIGINT)")
    val tot1 = broadcast(a1.agg(sum(col("a1")).as("_t")))
    val h1 = pairs.join(a1, "s").crossJoin(tot1)
      .select(col("p"), normExpr("a1").as("a1n"))
      .groupBy(col("p")).agg(sum(col("a1n")).as("h1"))
    val tot2 = broadcast(h1.agg(sum(col("h1")).as("_t")))
    val a2 = pairs.join(h1, "p").crossJoin(tot2)
      .select(col("s"), normExpr("h1").as("h1n"))
      .groupBy(col("s")).agg(sum(col("h1n")).as("a2"))
    normalize(a2, "a2")
      .select(col("s").as("supplier"), col("a2").as("auth_fp"))
  }

  /** The persisted part↔supplier adjacency x69/x80/x145 iterate over. */
  val PrAdjacency: Derived = Derived("pr_adjacency_v2")((spark, sfDir) =>
    adjacency(bipartiteEdges(spark, sfDir)))

  /** x69's loop meta frame over [[PrAdjacency]]. */
  val PrNodes: Derived = Derived("pr_nodes_v2")((spark, sfDir) =>
    nodeMeta(Lake.materialize(spark, sfDir, PrAdjacency)))

  /** Part co-purchase graph: an undirected edge (u < v, one row) per
    * pair of parts sharing an order. Basket size is bounded (TPC-H ≤7
    * lineitems/order; a real catalog caps the same way), so the pair
    * expansion is a constant factor on the fact table, then one
    * distinct.
    */
  private[graft] def coPurchaseEdges(spark: SparkSession, sfDir: String): DataFrame =
    Lake.materialize(spark, sfDir, CopurchaseEdges)

  /** The distinct (order ok, part pk) basket frame off `lineitem`. */
  private def basket(spark: SparkSession, sfDir: String): DataFrame =
    Lake.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()

  /** Part pairs sharing an order (u < v), one row per shared order. */
  private def basketPairs(items: DataFrame): DataFrame =
    items.as("x").join(items.as("y"), col("x.ok") === col("y.ok") &&
      col("x.pk") < col("y.pk"))

  /** x69's adjacency discipline: the pair-expansion + distinct over
    * the fact table runs ONCE per dataset and lands in the lake; the
    * four consumers (x81/x85/x86/x87) — and the multiple references
    * within each (degrees + triangles both read it) — scan a compact
    * two-column parquet instead of re-deriving from lineitem per
    * plan branch.
    */
  val CopurchaseEdges: Derived = Derived("copurchase_edges_v1")((spark, sfDir) =>
    basketPairs(basket(spark, sfDir))
      .select(col("x.pk").as("u"), col("y.pk").as("v")).distinct())

  /** The degree-oriented arc frame of the co-purchase graph as a lake
    * artifact: x81/x85/x87/x132 each reference it on THREE join
    * branches (two wedge legs + the closing probe), so serving it
    * from a compact parquet — instead of re-deriving the two degree
    * joins per branch — is the same artifact discipline as x69's
    * pr_adjacency_v2.
    */
  private[graft] def orientedArcsFor(spark: SparkSession, sfDir: String): DataFrame =
    Lake.materialize(spark, sfDir, CopurchaseArcs)

  val CopurchaseArcs: Derived = Derived("copurchase_arcs_v1")((spark, sfDir) =>
    orientByDegree(coPurchaseEdges(spark, sfDir)))

  /** Node degrees of the co-purchase graph (node-sized artifact). */
  private[graft] def copurchaseDegFor(spark: SparkSession, sfDir: String): DataFrame =
    Lake.materialize(spark, sfDir, CopurchaseDeg)

  val CopurchaseDeg: Derived = Derived("copurchase_deg_v1")((spark, sfDir) =>
    degrees(coPurchaseEdges(spark, sfDir)))

  /** The SORTED adjacency of the oriented co-purchase arcs as a lake
    * artifact (r17): the five triangle-family consumers each re-ran
    * the groupBy + collect_list over the E-row arc frame per
    * invocation — the arrays are per-node bounded by the oriented
    * degree cap (max od 97 at sf0.1 AND at the 100× lake), so the
    * artifact is node-sized, its build is a safe bounded-group
    * aggregate at any decade (the r15 OOM class was the JOIN carrying
    * arrays at wedge frequency, not this build), and the form gate
    * reads its array lengths instead of re-aggregating the arcs.
    */
  private[graft] def orientedAdjListFor(spark: SparkSession, sfDir: String): DataFrame =
    Lake.materialize(spark, sfDir, CopurchaseAdjList)

  val CopurchaseAdjList: Derived = Derived("copurchase_adjlist_v1")((spark, sfDir) =>
    orientedArcsFor(spark, sfDir).groupBy(col("s"))
      .agg(sort_array(collect_list(col("t").cast("long"))).as("nbrs")))

  /** The part↔supplier adjacency from `lineitem`, both directions. */
  private def bipartiteEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Lake.table(spark, sfDir, "lineitem")
      .select(concat(lit("P"), col("l_partkey").cast("string")).as("p"),
        concat(lit("S"), col("l_suppkey").cast("string")).as("s"))
      .distinct()
    pairs.select(col("p").as("src"), col("s").as("dst"))
      .unionAll(pairs.select(col("s").as("src"), col("p").as("dst")))
  }

  /** One majority-vote round: each labeled node sends its label along
    * its out-edges; every receiver adopts the plurality label with
    * the deterministic (votes desc, label asc) tiebreak. Votes are
    * integer counts and the tiebreak total-orders the candidates, so
    * the result is engine-exact. The per-receiver window runs over
    * label-grain rows (≤ label-alphabet per node after the combine),
    * never edge grain.
    */
  def voteRound(adj: DataFrame, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDst = Window.partitionBy(col("dst"))
      .orderBy(desc("votes"), col("label"))
    adj.join(labels.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("votes"))
      .withColumn("rk", row_number().over(byDst))
      .filter(col("rk") === 1)
      .select(col("dst").as("node"), col("label"), col("votes"))
  }

  /** Degree-ordered orientation: each undirected edge (u, v) becomes
    * one arc from the smaller endpoint to the larger under the total
    * order (degree, node). Every triangle then appears as EXACTLY one
    * (a→b, a→c, b→c) arc pattern, and — the scale property — the
    * oriented out-degree is O(√|E|) even on power-law graphs, so the
    * wedge join below never fans out on a hub the way the naive
    * all-orderings join does (the standard MapReduce triangle bound).
    */
  def orientByDegree(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("t"))
  }

  /** The once-per-triangle (a, b, c) enumeration over a prebuilt
    * oriented arc frame: wedge join (two arcs off one source) closed
    * by a third-arc equi-join, each triangle appearing exactly once
    * by the orientation invariant. Taking the ARC frame (not edges)
    * lets registered queries serve all three join branches from one
    * lake-materialized parquet — inline orientation re-derives the
    * two degree joins per branch, which tripled the wedge stage's
    * upstream cost in the sf0.1 bench.
    */
  def triangleEnum(arcs: DataFrame): DataFrame =
    triangleEnum(arcs, TriangleMaxArrayDegree, TriangleMaxArrayWedges)

  /** [[triangleEnum]] with the sorted-adjacency frame prebuilt (the
    * r17 lake artifact): the form gate reads its node-sized array
    * lengths instead of re-aggregating the E-row arc frame, and the
    * array path joins it directly instead of re-running the
    * groupBy + collect_list per invocation. Callers without a lake
    * (changing arc subsets — x240's peel rounds; tests) keep the
    * in-plan derivation.
    *
    * CONTRACT (ADVICE r17): `adj` MUST be exactly
    * `arcs.groupBy(s).agg(sort_array(collect_list(t)))` of THIS arc
    * frame — there is no consistency guard, and an adjacency stale
    * relative to a filtered arc subset would yield silently wrong
    * gate stats and triangles. Callers iterating over changing arc
    * subsets (x240) must use the 1-arg overload.
    */
  def triangleEnum(arcs: DataFrame, adj: DataFrame): DataFrame =
    triangleEnum(arcs, TriangleMaxArrayDegree, TriangleMaxArrayWedges,
      Some(adj))

  /** The measured gate that picks the enumeration form (VERDICT r15
    * #4 — previously the degradation was documented but nothing
    * selected it): ONE node-sized aggregate over the arc frame reads
    * max oriented out-degree and the wedge volume Σ od·(od−1), the
    * two quantities that bound the array form's memory. The wedge
    * volume is the binding one in practice: the adjacency join
    * carries BOTH endpoint arrays on every arc row, so its in-flight
    * bytes are ~8·Σod² — 0.7 GB at sf0.1 (82 M wedges, fine), 6.6 GB
    * at the 10× lake (fine at the 32 g default), 66 GB at the 100×
    * lake (8.22 B wedges — killed 28 g and 48 g heaps in the
    * collect_list/spill path, r15 probe). The thresholds sit ~2.4×
    * above the largest decade the array form has proven and ~4×
    * below the measured failure. The scalar collect is x86's
    * 1-row-gate pattern; it costs one groupBy pass over the E-row
    * frame, paid once per enumeration against a wedge-volume stage.
    */
  def triangleEnum(arcs: DataFrame, maxArrayDegree: Long,
      maxArrayWedges: Long,
      adjOpt: Option[DataFrame] = None): DataFrame = {
    val (maxOd, wedges) =
      adjOpt.map(adjWedgeStats).getOrElse(wedgeStats(arcs))
    if (maxOd <= maxArrayDegree && wedges <= maxArrayWedges)
      triangleEnumArrays(arcs, adjOpt)
    else triangleEnumJoin(arcs)
  }

  /** Array form's gates: per-node sorted adjacency arrays stay small
    * (degree cap) and the join-carried array traffic ~8·Σod·(od−1)
    * bytes stays inside executor memory at the 32 g default contract
    * heap (wedge cap — 2×10⁹ wedges ≈ 16 GB in flight).
    */
  val TriangleMaxArrayDegree: Long = 65536L
  val TriangleMaxArrayWedges: Long = 2000000000L

  /** (max oriented out-degree, Σ od·(od−1)) as a 1-row scalar fetch —
    * the measured inputs to [[triangleEnum]]'s form gate.
    */
  private[graft] def wedgeStats(arcs: DataFrame): (Long, Long) = {
    val r = arcs.groupBy(col("s")).agg(count(lit(1)).as("od"))
      .agg(coalesce(max(col("od")), lit(0L)).as("m"),
        coalesce(sum(col("od") * (col("od") - 1L)), lit(0L)).as("w"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** [[wedgeStats]] off a prebuilt (s, nbrs) adjacency frame: od is
    * the array length, so the scalar comes from one scan of the
    * node-sized artifact instead of a groupBy over the E-row arcs.
    * Identical values — the adjacency holds exactly the out-arc
    * multiset per source.
    */
  private[graft] def adjWedgeStats(adj: DataFrame): (Long, Long) = {
    val r = adj.select(size(col("nbrs")).cast("long").as("od"))
      .agg(coalesce(max(col("od")), lit(0L)).as("m"),
        coalesce(sum(col("od") * (col("od") - 1L)), lit(0L)).as("w"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Sorted-adjacency edge-iterator form — the fast path. */
  private[graft] def triangleEnumArrays(arcs: DataFrame,
      adjOpt: Option[DataFrame] = None): DataFrame = {
    // edge-iterator form: every triangle is (a→b, a→c, b→c) exactly
    // once under the orientation, so enumerating c ∈ N⁺(a) ∩ N⁺(b)
    // per arc (a, b) finds each triangle once — over sorted
    // out-neighbor arrays (bounded by the oriented-degree O(√E) cap)
    // instead of materializing the O(Σ od²) wedge stream through a
    // join (82 M rows on the sf0.1 co-purchase graph; the intersect
    // form does the same element comparisons inside one stage over
    // the E-row arc frame and benched 3× faster there). The
    // intersection itself is the native two-pointer merge
    // ([[graft.functions.ArrayExpressions.sortedIntersect]]):
    // `array_intersect` builds a hash set per ROW — per-arc
    // allocation and hashing that the sorted inputs make unnecessary,
    // at wedge-volume frequency. The two adjacency joins are
    // node-sized — broadcast while they fit, SMJ past that.
    val adj = adjOpt.getOrElse(arcs.groupBy(col("s"))
      .agg(sort_array(collect_list(col("t").cast("long"))).as("nbrs")))
    arcs
      .join(adj.select(col("s"), col("nbrs").as("na")), "s")
      .join(adj.select(col("s").as("t"), col("nbrs").as("nb")), "t")
      .select(col("s").as("a"), col("t").as("b"),
        explode(graft.functions.ArrayExpressions.sortedIntersect(
          col("na"), col("nb"))).as("c"))
  }

  /** Join-based wedge stream — the degradation path for graphs whose
    * oriented adjacency outgrows arrays: the same per-arc
    * c ∈ N⁺(a) ∩ N⁺(b) set, generated by an equi-join fan-out and
    * closed in TWO steps whose order is the whole design:
    *
    *  1. a BLOOM of the arc-key set
    *     ([[graft.functions.BloomExpressions]], 1% fpp, sized for
    *     the real arc count) probes every wedge MAP-SIDE, inside the
    *     stage that generates it — the O(Σ od²) stream is pipelined
    *     through the filter and NEVER materializes to a shuffle. This is the
    *     step the naive semi-join-only form gets fatally wrong: at
    *     the 100× lake the 8.22 B-row wedge shuffle/sort needs
    *     ~200 GB of spill and died on disk exactly there (r16 first
    *     probe attempt);
    *  2. the ~(triangles + fpp·wedges) survivors close by an EXACT
    *     left-semi hash join on the arc set — blooms admit only
    *     false positives, the semi join removes them, false
    *     negatives are impossible, so the output is row-identical
    *     to the array form (and oracle-stable: the engine-private
    *     xxhash64 inside the bloom can only let extra rows REACH
    *     the exact join).
    *
    * Cost shape at the fifth decade: the wedge-generating join
    * shuffles only the E-row arc frame twice (~4 GB), the bloom is
    * ~1.2 bytes·E (~140 MB at 118 M arcs — one copy per executor),
    * and the survivor shuffle is ~2% of the wedge volume. Memory-
    * and disk-flat where the array form needed a 64 g heap. Output
    * identical: each triangle once, c as long.
    */
  private[graft] def triangleEnumJoin(arcs: DataFrame): DataFrame = {
    val nArcs = math.max(arcs.count(), 1L)
    val bloom = BloomExpressions.build("triangleEnumJoin", arcs,
      struct(col("s"), col("t")), nArcs)
    arcs.select(col("s").as("a"), col("t").as("b"))
      .join(arcs.select(col("s").as("a"), col("t").as("c")), "a")
      .filter(BloomExpressions.mightContain(bloom, struct(col("b"), col("c"))))
      .join(arcs.select(col("s").as("b"), col("t").as("c")),
        Seq("b", "c"), "left_semi")
      .select(col("a"), col("b"), col("c").cast("long").as("c"))
  }

  /** Per-node triangle participation from a prebuilt oriented arc
    * frame. Three equi-joins + one integer count — no windows.
    */
  def triangleCountsFrom(arcs: DataFrame,
      adjOpt: Option[DataFrame] = None): DataFrame =
    triangleEnum(arcs, TriangleMaxArrayDegree, TriangleMaxArrayWedges, adjOpt)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))

  /** Per-node triangle participation over an undirected edge list. */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsFrom(orientByDegree(edges))

  /** Undirected degree per node over (u < v) single-row edges. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("u").as("n")).unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))

  /** One peel round: drop every node whose degree in the CURRENT
    * arc set is below k, and every arc touching one. Arcs are the
    * both-directions representation, so one groupBy(src) is the full
    * degree and the two semi-joins close the edge set.
    */
  def peel(arcs: DataFrame, k: Int): DataFrame = {
    val alive = arcs.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= k).select(col("src"))
    arcs.join(alive, "src")
      .join(alive.withColumnRenamed("src", "dst"), "dst")
      .select(col("src"), col("dst"))
  }

  /** x240's bounded k-truss peel over a prebuilt oriented arc frame —
    * the EDGE-grain cohesion filter beside x86's node-grain k-core
    * (a degree-k node can still sit on zero triangles; the k-truss
    * keeps an edge only while ≥ k−2 triangles SUPPORT it, so it
    * extracts the community-grade subgraph k-core lets through):
    * each round computes per-edge support from [[triangleEnum]]'s
    * once-per-triangle stream (each triangle's three arcs are
    * exactly (a,b), (a,c), (b,c) under the orientation — the support
    * aggregation is one union + count, no new join shape) and drops
    * arcs below k−2. Two bounded rounds (the x86/x140 fixed-round
    * discipline: each is a full Spark job; convergence detection
    * would gate on a driver-side count per round, which the bounded
    * form avoids — and the orientation stays valid on every subset
    * because it is a fixed total order). The report is the per-round
    * (edges_in, edges_kept) contraction.
    */
  def trussRounds(arcs0: DataFrame, k: Int): DataFrame =
    trussRoundsFrom(arcs0, trussKept(arcs0, k), k)

  /** One truss round: the arcs supported by at least k−2 triangles. */
  private def trussKept(arcs: DataFrame, k: Int): DataFrame = {
    val tri = triangleEnum(arcs)
    val sup = tri.select(col("a").as("s"), col("b").as("t"))
      .unionAll(tri.select(col("a").as("s"), col("c").as("t")))
      .unionAll(tri.select(col("b").as("s"), col("c").as("t")))
      .groupBy(col("s"), col("t")).agg(count(lit(1)).as("sup"))
    arcs.join(sup, Seq("s", "t"), "left")
      .filter(coalesce(col("sup"), lit(0L)) >= k - 2)
      .select(col("s"), col("t"))
  }

  /** [[trussRounds]] over a prebuilt round-1 survivor set `a1` — x240
    * reads [[TrussR1Arcs]], so the second round's lineage doesn't
    * re-run the first enumeration per count branch.
    */
  def trussRoundsFrom(arcs0: DataFrame, a1: DataFrame, k: Int): DataFrame = {
    val a2 = trussKept(a1, k)
    def row(r: Int, in: DataFrame, out: DataFrame) =
      in.agg(count(lit(1)).as("edges_in"))
        .crossJoin(out.agg(count(lit(1)).as("edges_kept")))
        .select(lit(r).as("round"), lit(k).as("k"),
          col("edges_in"), col("edges_kept"))
    row(1, arcs0, a1).unionByName(row(2, a1, a2)).orderBy(col("round"))
  }

  /** x240's truss order. */
  private val TrussK = 4

  /** x240's round-1 survivors over the oriented co-purchase arcs. */
  val TrussR1Arcs: Derived = Derived("truss_r1_arcs_v1")((spark, sfDir) =>
    trussKept(orientedArcsFor(spark, sfDir), TrussK))

  /** (node, deg, tri, cc) for every node of degree ≥ 2: cc = 2·tri /
    * (deg·(deg−1)), the one double division over exact integers
    * rounded to the 4 dp grid.
    */
  def clusteringCoeff(edges: DataFrame): DataFrame =
    clusteringCoeffFrom(degrees(edges),
      triangleCounts(edges))

  /** [[clusteringCoeff]] over prebuilt degree and per-node triangle
    * frames (both node-sized).
    */
  def clusteringCoeffFrom(deg: DataFrame, tri: DataFrame): DataFrame =
    deg
      .join(tri.withColumnRenamed("node", "n"),
        Seq("n"), "left")
      .select(col("n").as("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .filter(col("deg") >= 2)
      .withColumn("cc", round(
        (col("tri") * 2).cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double"), 4))

  /** (u, v, cn, jac) per undirected edge: common-neighbor count from
    * one wedge equi-join grouped to pairs, union size by
    * inclusion–exclusion over exact degrees.
    */
  def linkJaccard(edges: DataFrame): DataFrame =
    linkJaccardFrom(edges, orientByDegree(edges), degrees(edges))

  /** [[linkJaccard]] from prebuilt oriented-arc/degree frames: a
    * common neighbor of an edge IS a triangle corner, so the pair
    * counts come from the once-per-triangle enumeration (oriented
    * wedge bound) instead of the naive all-arcs wedge stream — on
    * the sf0.1 co-purchase graph that stream is 295 M ordered rows
    * vs 82 M oriented ones feeding ~1 M triangles.
    */
  def linkJaccardFrom(edges: DataFrame, arcs: DataFrame,
      deg: DataFrame, adjOpt: Option[DataFrame] = None): DataFrame = {
    val common = triangleEnum(arcs, TriangleMaxArrayDegree,
      TriangleMaxArrayWedges, adjOpt).select(explode(array(
        struct(col("a").as("x"), col("b").as("y")),
        struct(col("a").as("x"), col("c").as("y")),
        struct(col("b").as("x"), col("c").as("y")))).as("i"))
      .select(least(col("i.x"), col("i.y")).as("u"),
        greatest(col("i.x"), col("i.y")).as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"))
    edges.join(common, Seq("u", "v"), "left")
      .select(col("u"), col("v"), coalesce(col("cn"), lit(0L)).as("cn"))
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .withColumn("jac", round(col("cn").cast("double") /
        (col("du") + col("dv") - col("cn")).cast("double"), 4))
      .select(col("u"), col("v"), col("cn"), col("jac"))
  }

  /** (u, v, cn, aa_fp) per undirected edge: Adamic–Adar link score
    * Σ_{z ∈ N(u)∩N(v)} 1/ln(deg z) — x87's jaccard weights every
    * common neighbor equally, AA discounts promiscuous hubs (a shared
    * neighbor of degree 500 is weak evidence; one of degree 3 is
    * strong). A scored (edge, witness) incidence IS a triangle, so
    * enumeration rides [[orientByDegree]]'s oriented wedge join —
    * O(Σ outdeg²) with outdeg ∈ O(√E) — instead of the naive
    * all-arcs wedge stream (Σ deg², 147.8 M rows vs ~4 M triangle
    * incidences on the sf0.1 co-purchase graph: the first bench
    * reading of this operator was 13.4 s median on exactly that
    * stream). Each triangle (a,b,c) explodes into its three (edge,
    * witness) incidences; witness terms land on the 10⁶ integer grid
    * (ONE double division + round per incidence — x119's
    * ln-over-exact-integers rule), so the per-pair score is an exact
    * associative BIGINT sum (the x69 fixed-point rule: full hash
    * oracle). A witness always has deg ≥ 2; the guard only keeps
    * ln(1)=0 out of the ANSI division on degenerate inputs.
    */
  def adamicAdar(edges: DataFrame): DataFrame =
    adamicAdarFrom(orientByDegree(edges), degrees(edges))

  /** [[adamicAdar]] over prebuilt oriented-arc and degree frames —
    * the form registered queries use so the three wedge branches read
    * one lake artifact.
    */
  def adamicAdarFrom(arcs: DataFrame, deg: DataFrame,
      adjOpt: Option[DataFrame] = None): DataFrame = {
    val inc = triangleEnum(arcs, TriangleMaxArrayDegree,
      TriangleMaxArrayWedges, adjOpt).select(explode(array(
        struct(col("a").as("x"), col("b").as("y"), col("c").as("z")),
        struct(col("a").as("x"), col("c").as("y"), col("b").as("z")),
        struct(col("b").as("x"), col("c").as("y"), col("a").as("z"))))
        .as("i"))
      .select(least(col("i.x"), col("i.y")).as("u"),
        greatest(col("i.x"), col("i.y")).as("v"), col("i.z").as("z"))
    inc.join(deg.withColumnRenamed("n", "z"), "z")
      .select(col("u"), col("v"),
        when(col("deg") >= 2,
          round(lit(1000000.0) / log(col("deg").cast("double")), 0)
            .cast("long"))
          .otherwise(lit(0L)).as("term_fp"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"), sum(col("term_fp")).as("aa_fp"))
  }

  /** x257's resource-allocation index over the same (edge, witness)
    * incidence stream as x132 — the harder hub discount (AA divides
    * by ln deg; RA by deg itself — Zhou/Lü/Zhang's variant that wins
    * on dense co-occurrence graphs where even ln barely tames hubs):
    * Σ_{z ∈ N(u)∩N(v)} 1/deg(z), witness terms on the 10⁶ grid, the
    * per-pair score an exact BIGINT sum. Same O(Σ od²) oriented
    * enumeration, same one lake artifact.
    */
  def resourceAllocFrom(arcs: DataFrame, deg: DataFrame,
      adjOpt: Option[DataFrame] = None): DataFrame = {
    val inc = triangleEnum(arcs, TriangleMaxArrayDegree,
      TriangleMaxArrayWedges, adjOpt).select(explode(array(
        struct(col("a").as("x"), col("b").as("y"), col("c").as("z")),
        struct(col("a").as("x"), col("c").as("y"), col("b").as("z")),
        struct(col("b").as("x"), col("c").as("y"), col("a").as("z"))))
        .as("i"))
      .select(least(col("i.x"), col("i.y")).as("u"),
        greatest(col("i.x"), col("i.y")).as("v"), col("i.z").as("z"))
    inc.join(deg.withColumnRenamed("n", "z"), "z")
      .select(col("u"), col("v"),
        when(col("deg") > 0,
          round(lit(1000000.0) / col("deg").cast("double"), 0)
            .cast("long"))
          .otherwise(lit(0L)).as("term_fp"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"), sum(col("term_fp")).as("ra_fp"))
  }

  /** x140's 2-hop BFS ball from the hub (max degree, id tiebreak)
    * over (u < v) single-row edges: per-hop frontier size + node-sum
    * checksum. Each hop is one frontier equi-join + an anti-join
    * against the visited set.
    */
  def bfsReach2(edges: DataFrame): DataFrame = {
    val arcs = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    val seed = arcs.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(desc("d"), col("src")).limit(1)
      .head().getLong(0)
    val f1 = arcs.filter(col("src") === seed)
      .select(col("dst").as("node")).distinct()
    val f2 = arcs.join(f1.withColumnRenamed("node", "src"), "src")
      .select(col("dst").as("node")).distinct()
      .join(f1, Seq("node"), "left_anti")
      .filter(col("node") =!= seed)
    f1.withColumn("hop", lit(1))
      .unionByName(f2.withColumn("hop", lit(2)))
      .unionByName(f1.sparkSession.range(1)
        .select(lit(seed).as("node"), lit(0).as("hop")))
      .groupBy(col("hop"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_sum"))
  }

  /** x172's power-law MLE over a (n, deg) degree frame: x_min = the
    * discrete p50 degree (Clauset's cut made deterministic via x51's
    * quantile convention), α̂ = 1 + n_tail/Σ ln(d/(x_min − ½)) with
    * the half-shift folded into the exact integer rational
    * 2d/(2x_min − 1), so each ln takes one exact argument onto the
    * 10⁻⁶ grid (x34's pattern) and α is ONE division off the exact
    * grid sum. Exposed so tests can plant closed-form tails.
    */
  def powerlawReport(deg: DataFrame): DataFrame = {
    val dmin = broadcast(deg.agg(
      expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY deg) " +
        "AS BIGINT)").as("d_min")))
    val nAll = broadcast(deg.agg(count(lit(1)).as("n_nodes")))
    deg.crossJoin(dmin).filter(col("deg") >= col("d_min"))
      .withColumn("term_fp",
        round(log((col("deg") * 2).cast("double") /
          (col("d_min") * 2 - 1).cast("double")) * lit(1000000.0), 0)
          .cast("long"))
      .agg(min(col("d_min")).as("d_min"), count(lit(1)).as("n_tail"),
        max(col("deg")).as("d_max"), sum(col("term_fp")).as("_s"))
      .crossJoin(nAll)
      .select(col("n_nodes"), col("d_min"), col("n_tail"), col("d_max"),
        round(lit(1.0) + (col("n_tail") * lit(1000000L)).cast("double") /
          col("_s").cast("double"), 4).as("alpha"))
  }

  /** x173's bounded BFS distance histogram from the hub (max degree,
    * id tiebreak — x140's seed) over (u < v) edges, 4 hops: per-hop
    * reached counts, cumulative share of the 4-hop ball, and the
    * effective diameter = the smallest hop covering ≥ 90% of the
    * ball (the truncated form of the standard metric — at 100 TB the
    * horizon stays a bounded constant and each hop is one frontier
    * equi-join + anti-join, x140's shape iterated).
    */
  def bfsDistHist(edges: DataFrame, hops: Int = 4,
      seedOpt: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arcs = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    // callers with a persisted degree artifact pass the hub seed in
    // (x140's (deg desc, node) rule — arcs groupBy src ≡ degrees(),
    // same tiebreak) instead of paying this edge-frame aggregate per
    // invocation
    val seed = seedOpt.getOrElse(
      arcs.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .orderBy(desc("d"), col("src")).limit(1)
        .head().getLong(0))
    val seed0 = arcs.sparkSession.range(1)
      .select(lit(seed).as("node"), lit(0).as("hop"))
    // The visited set IS the labeled set's node column (both start at
    // the seed and union the same frontier every round), so one frame
    // carries both roles — the r17 before-plan kept TWO parallel
    // exponential lineages (lab and visited each re-held every prior
    // frontier; 360 Exchange/Scan nodes at 4 hops), the folded form
    // one. The remaining double reference per round (frontier filter
    // + anti-join) is left lazy: its subtrees are identical, so
    // runtime exchange reuse dedupes them (an eager per-hop
    // localCheckpoint A/B'd at 3.64 s vs 3.55 s lazy at sf0.1 — the
    // barriers buy nothing the reuse doesn't already give).
    val labeled = (1 to hops).foldLeft(seed0) { (lab, h) =>
      val frontier = arcs
        .join(lab.filter(col("hop") === h - 1)
          .select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(lab.select(col("node")), Seq("node"), "left_anti")
      lab.unionByName(frontier.withColumn("hop", lit(h)))
    }
    val whole = Window.partitionBy(lit(1))
    val cum = Window.partitionBy(lit(1)).orderBy(col("hop"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    labeled.groupBy(col("hop")).agg(count(lit(1)).as("n_nodes"))
      .withColumn("cum_n", sum(col("n_nodes")).over(cum))
      .withColumn("ball_n", sum(col("n_nodes")).over(whole))
      .withColumn("eff_diameter",
        min(when(col("cum_n") * 10 >= col("ball_n") * 9, col("hop")))
          .over(whole))
      .select(col("hop"), col("n_nodes"),
        round(col("cum_n").cast("double") / col("ball_n").cast("double"), 4)
          .as("cum_share"),
        col("eff_diameter"))
      .orderBy(col("hop"))
  }

  /** x142's degree-assortativity readout over (u < v) edges and a
    * prebuilt (n, deg) frame. See the registry entry for the
    * sufficient-statistic discipline.
    */
  def assortativity(edges: DataFrame, deg: DataFrame): DataFrame = {
    val arcs = edges.select(col("u").as("a"), col("v").as("b"))
      .unionAll(edges.select(col("v").as("a"), col("u").as("b")))
    arcs
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .agg(count(lit(1)).as("n_arcs"),
        sum(col("da")).as("sx"),
        sum(col("da") * col("da")).as("sxx"),
        sum(col("da") * col("db")).as("sxy"))
      .select(col("n_arcs"),
        round(col("sx").cast("double") / col("n_arcs"), 4).as("mean_deg"),
        when(col("n_arcs") * col("sxx") - col("sx") * col("sx") =!= 0,
          round((col("n_arcs") * col("sxy") - col("sx") * col("sx")).cast("double") /
            (col("n_arcs") * col("sxx") - col("sx") * col("sx")).cast("double"), 4))
          .as("assortativity"))
  }

  /** x151's rich-club report over (u < v) edges and a (n, deg)
    * frame: for k at the degree p50/p75/p90 (discrete quantiles —
    * actual data values, x51's cross-engine convention, broadcast as
    * a 3-row spine), φ(k) = 2·E_k / (N_k(N_k−1)) where E_k counts
    * edges BOTH of whose endpoints have degree > k. The 3-row
    * crossJoin on edge grain is a deliberate bounded ×3 fan-out (the
    * percentile-bounds-join pattern); levels whose club is empty stay
    * in the report via the spine left-joins (e_in = 0, φ NULL for
    * n < 2) instead of vanishing — the x89-class contract gap this
    * family learned to avoid. Exact integers to the one division.
    */
  def richClub(edges: DataFrame, deg: DataFrame): DataFrame = {
    val ks = broadcast(deg.agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY deg)").as("k50"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY deg)").as("k75"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY deg)").as("k90"))
      // Spark's percentile_disc returns double; the picked value IS
      // an integer degree, so the cast is exact (and pins the k
      // column's cross-engine dtype)
      .selectExpr("stack(3, 'p50', CAST(k50 AS BIGINT), " +
        "'p75', CAST(k75 AS BIGINT), 'p90', CAST(k90 AS BIGINT)) AS (level, k)"))
    val ek = edges
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .crossJoin(ks)
      .filter(col("du") > col("k") && col("dv") > col("k"))
      .groupBy(col("level"), col("k")).agg(count(lit(1)).as("e_in"))
    val nk = deg.crossJoin(ks).filter(col("deg") > col("k"))
      .groupBy(col("level"), col("k")).agg(count(lit(1)).as("n_nodes"))
    ks.join(nk, Seq("level", "k"), "left")
      .join(ek, Seq("level", "k"), "left")
      .select(col("level"), col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"))
      .withColumn("phi",
        when(col("n_nodes") >= 2,
          round((lit(2L) * col("e_in")).cast("double") /
            (col("n_nodes") * (col("n_nodes") - lit(1L))).cast("double"), 4)))
      .orderBy(col("level"))
  }

  /** x144's personalized node-meta frame: all restart mass sits at
    * `seed` instead of spreading uniformly — init 1.0 and teleport
    * 0.15 at the seed (in [[RankScale]] fixed point), 0 elsewhere.
    * Structurally identical to [[nodeMeta]], so [[iterate]] runs the
    * personalized recurrence unchanged: PPR is PageRank with a
    * different teleport vector, and the machinery reflects that.
    */
  def pprMeta(adj: DataFrame, seed: Long): DataFrame = {
    val srcs = adj.select(col("src")).distinct()
    val nodes = srcs.unionAll(adj.select(col("dst").as("src"))).distinct()
    val nNodes = broadcast(nodes.agg(count(lit(1)).as("n_nodes")))
    nodes.join(srcs.withColumn("_has_out", lit(true)), Seq("src"), "left")
      .crossJoin(nNodes)
      .select(col("src").as("node"),
        when(col("src") === seed, lit(RankScale)).otherwise(lit(0L))
          .as("init_fp"),
        when(col("src") === seed, lit(RankScale * 15 / 100)).otherwise(lit(0L))
          .as("base_fp"),
        coalesce(col("_has_out"), lit(false)).as("has_out"),
        col("n_nodes"))
  }
  /** x144's symmetric co-purchase adjacency. */
  val PprAdjacency: Derived = Derived("ppr_adjacency_v1") { (spark, sfDir) =>
    val e = coPurchaseEdges(spark, sfDir)
    adjacency(e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst"))))
  }

  /** x144's meta frame, a lake table exactly as x69's [[PrNodes]]
    * (its seed, one driver-collected scalar off the node-sized degree
    * table as in x140, is deterministic per dataset).
    */
  val PprNodes: Derived = Derived("ppr_nodes_v1") { (spark, sfDir) =>
    val seed = copurchaseDegFor(spark, sfDir)
      .orderBy(desc("deg"), col("n")).limit(1)
      .head().getLong(0)
    pprMeta(Lake.materialize(spark, sfDir, PprAdjacency), seed)
  }


  /** x144's personalized PageRank over (u < v) undirected edges:
    * `iters` rounds of the integer recurrence with the teleport
    * pinned to the graph's hub (max degree, id tiebreak — x140's
    * seed discipline). Exposed for planted-graph recompute tests.
    */
  def personalizedPageRank(edges: DataFrame, iters: Int): DataFrame = {
    val arcs = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    val adj = adjacency(arcs)
    val seed = arcs.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(desc("d"), col("src")).limit(1)
      .head().getLong(0)
    iterate(adj, pprMeta(adj, seed), iters)
  }

  /** x145's modularity report over an undirected edge frame (u, v)
    * and a total community assignment (node, label): per community
    * e_c (within-community edges), deg_c (endpoint incidences) and
    * its Newman-modularity contribution q_c = e_c/m − (deg_c/2m)²,
    * computed as the single exact-BIGINT numerator 4m·e_c − deg_c²
    * over the shared denominator 4m² with ONE division per row at
    * 4 dp; the corpus Q is the same numerator summed over the
    * |communities|-row frame (a bounded window, not a second pass).
    * Communities with no internal edge keep e_c = 0 via the left
    * join — their (negative) contribution is real signal.
    */
  def modularityReport(edges: DataFrame, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = broadcast(edges.agg(count(lit(1)).as("m")))
    val within = edges
      .join(labels.select(col("node").as("u"), col("label").as("lu")), "u")
      .join(labels.select(col("node").as("v"), col("label").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .select(col("lu").as("label"))
      .groupBy(col("label")).agg(count(lit(1)).as("e_within"))
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .join(labels, "node")
      .groupBy(col("label")).agg(count(lit(1)).as("deg_sum"))
    labels.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
      .join(deg, Seq("label"), "left")
      .join(within, Seq("label"), "left")
      .crossJoin(m)
      .select(col("label"), col("n_nodes"),
        coalesce(col("e_within"), lit(0L)).as("e_within"),
        coalesce(col("deg_sum"), lit(0L)).as("deg_sum"), col("m"))
      .withColumn("_num",
        lit(4L) * col("m") * col("e_within") - col("deg_sum") * col("deg_sum"))
      // `+ 0.0` folds a rounded -0.0000 to 0.0 (x49's convention —
      // both engines, so the hash can't split on the zero's sign)
      .withColumn("q_contrib", round(col("_num").cast("double") /
        (lit(4.0) * col("m") * col("m")), 4) + lit(0.0))
      .withColumn("q", round(
        sum(col("_num")).over(Window.partitionBy(lit(1))).cast("double") /
          (lit(4.0) * col("m") * col("m")), 4) + lit(0.0))
      .select(col("label"), col("n_nodes"), col("e_within"), col("deg_sum"),
        col("q_contrib"), col("q"))
  }

  /** The nation seed labels x80/x145 share: each supplier node seeds
    * its nation name onto the bipartite graph.
    */
  private[graft] def nationSeeds(spark: SparkSession, sfDir: String): DataFrame =
    Lake.table(spark, sfDir, "supplier")
      .join(Lake.table(spark, sfDir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .select(concat(lit("S"), col("s_suppkey").cast("string")).as("node"),
        col("n_name").as("label"))

  /** x80's two vote rounds over the persisted bipartite adjacency —
    * the (node, label, votes) frame after round 2, labeling every
    * node (round 1 labels all parts from the supplier seeds; round 2
    * re-labels everything, since by then every neighbor is labeled).
    * Shared by x80 (the per-node readout) and x145 (the community
    * partition whose quality modularity scores).
    */
  private[graft] def labelPropRound2(spark: SparkSession, sfDir: String): DataFrame = {
    val adj = Lake.materialize(spark, sfDir, PrAdjacency)
    val seeds = nationSeeds(spark, sfDir)
    val parts1 = voteRound(adj, seeds).select(col("node"), col("label"))
    voteRound(adj, seeds.unionByName(parts1))
  }

  /** x220's truncated Katz centrality over a directed (src, dst) arc
    * frame: katz(v) = Σ_{l=1..3} β^l · walks_l(v) with β = 1/2 and
    * walks_l(v) the EXACT number of length-l walks ending at v —
    * x69's vector-iteration shape (each hop is one arc⋈vector
    * equi-join + a partial-agg'able BIGINT sum, NEVER a path
    * materialization), but counting walk mass from a uniform source
    * instead of conserving probability mass: Katz rewards being
    * reachable by MANY short walks, PageRank splits each node's vote.
    * β^l = 2^{-l} keeps everything integer: the readout numerator is
    * 4·w₁ + 2·w₂ + w₃ over the fixed denominator 8, so the whole
    * statistic is BIGINT until one exact /8.0 at 4 dp — full hash
    * oracle. Truncation at 3 hops is the operator's definition here
    * (β·λ_max < 1 convergence is a property of the INFINITE series;
    * bounded-hop Katz is the standard batch form and keeps the job
    * graph static — x69's iteration discipline).
    */
  def katzTruncatedFp(arcs: DataFrame): DataFrame = {
    val nodes = arcs.select(col("src").as("node")).distinct()
    def hop(v: DataFrame): DataFrame = arcs
      .join(v.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst")).agg(sum(col("x")).as("x"))
      .withColumnRenamed("dst", "node")
    val w1 = hop(nodes.withColumn("x", lit(1L)))
    val w2 = hop(w1)
    val w3 = hop(w2)
    def named(df: DataFrame, c: String) =
      df.select(col("node"), col("x").as(c))
    nodes
      .join(named(w1, "w1"), Seq("node"), "left")
      .join(named(w2, "w2"), Seq("node"), "left")
      .join(named(w3, "w3"), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("w1"), lit(0L)).as("w1"),
        coalesce(col("w2"), lit(0L)).as("w2"),
        coalesce(col("w3"), lit(0L)).as("w3"))
      .withColumn("katz_fp",
        lit(4L) * col("w1") + lit(2L) * col("w2") + col("w3"))
      .select(col("node"), col("w1"), col("w2"), col("w3"),
        round(col("katz_fp").cast("double") / lit(8.0), 4).as("katz"))
      .orderBy(desc("katz"), col("node"))
      .limit(20)
  }

  /** x200's weighted co-purchase edges (u < v, w = orders sharing the
    * pair) — its own table, since [[CopurchaseEdges]] deliberately
    * drops multiplicity.
    */
  val CopurchaseWedges: Derived = Derived("copurchase_wedges_v1")((spark, sfDir) =>
    basketPairs(basket(spark, sfDir))
      .groupBy(col("x.pk").as("u"), col("y.pk").as("v")).agg(count(lit(1)).as("w")))

  /** x127's distinct (order, part) basket frame. */
  val BasketItems: Derived = Derived("basket_items_v1")(basket)

  val queries: Map[String, Q] = Map(
    // TRUNCATED KATZ CENTRALITY — the walk-count complement of x69's
    // PageRank over the same co-purchase graph (PageRank conserves a
    // probability mass, so a hub's vote splits; Katz counts
    // attenuated WALKS, so being in many short loops compounds — the
    // reachability-centrality a recommender uses to rank catalog
    // anchors). Exact integer walk counts per hop ⇒ full hash
    // oracle; see [[katzTruncatedFp]].
    "x220_katz_centrality" -> ((spark, sfDir) => {
      val e = coPurchaseEdges(spark, sfDir)
      katzTruncatedFp(
        e.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(e.select(col("v").as("src"), col("u").as("dst"))))
    }),

    // TRIANGLE COUNTING — local clustering density over the part
    // co-purchase graph (edge = two parts sharing an order; basket
    // size is bounded, so the pair expansion is a constant factor on
    // lineitem). In a crawl pipeline the same operator scores how
    // tightly a domain's neighborhood interlinks — the community-
    // density feature next to x69's global authority. Exact integer
    // counts end-to-end ⇒ full hash oracle.
    "x81_triangle_count" -> ((spark, sfDir) =>
      triangleCountsFrom(orientedArcsFor(spark, sfDir),
        Some(orientedAdjListFor(spark, sfDir)))
        .select(col("node"), col("tri"))
        .orderBy(desc("tri"), col("node"))
        .limit(20)),

    // BOUNDED 4-TRUSS PEEL — the edge-grain cohesion cascade beside
    // x86's node-grain k-core: keep an edge only while >= 2
    // triangles support it, two bounded rounds over the SAME
    // materialized oriented arcs as x81/x132 — see [[trussRounds]].
    "x240_ktruss" -> ((spark, sfDir) =>
      trussRoundsFrom(orientedArcsFor(spark, sfDir),
        Lake.materialize(spark, sfDir, TrussR1Arcs), k = TrussK)),

    // LOCAL CLUSTERING COEFFICIENT — cc = 2·tri / (deg·(deg−1)): how
    // much of a node's neighborhood interlinks (1.0 = clique corner).
    // In a crawl graph low-cc/high-deg nodes are hub-spam candidates;
    // high-cc pockets are communities. tri and deg are exact integers;
    // the single double division over them is IEEE-deterministic
    // before the 4 dp round (the x59/x72 one-division rule).
    "x85_clustering_coeff" -> ((spark, sfDir) =>
      clusteringCoeffFrom(copurchaseDegFor(spark, sfDir),
        triangleCountsFrom(orientedArcsFor(spark, sfDir),
          Some(orientedAdjListFor(spark, sfDir))))
        .orderBy(desc("cc"), col("node"))
        .limit(20)),

    // BOUNDED K-CORE PEEL — two rounds of "drop degree < k nodes"
    // over the co-purchase graph: the cascade quality filter (a
    // node's survival depends on its NEIGHBORS surviving, which
    // per-node degree thresholds can't express). k is the graph's own
    // p25 initial degree — a DISCRETE quantile (an actual data value,
    // x51's cross-engine convention) collected as a 1-row scalar, so
    // the operator self-scales: on the provisioned graphs round 1
    // removes the thin quartile and round 2 removes far MORE (their
    // absence strands mid-degree survivors) — amplification that a
    // static threshold can't show. Bounded rounds keep the job graph
    // static (x69's discipline); the full decomposition is the same
    // loop run to emptiness.
    "x86_kcore_peel" -> ((spark, sfDir) => {
      val edges = coPurchaseEdges(spark, sfDir)
      val arcs = edges.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
      val k = arcs.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .agg(expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY d)")
          .cast("long").as("k"))
        .head().getLong(0).toInt
      val e2 = (1 to 2).foldLeft(arcs)((e, _) => peel(e, k))
      e2.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg"))
        .orderBy(col("node"))
    }),

    // NEIGHBOR-JACCARD LINK SCORING — for every co-purchase edge
    // (u, v): |N(u)∩N(v)| / |N(u)∪N(v)| — the link-prediction /
    // edge-strength feature (dup-cluster edges with high overlap are
    // "same community" evidence; crawl edges with zero overlap are
    // long-range or spam). Common neighbors come from ONE wedge
    // equi-join grouped to (u, v) pairs — never a per-node
    // neighbor-set materialization — then an equi-join back onto the
    // edge list; union size is inclusion–exclusion over exact
    // degrees, one double division, 4 dp.
    "x87_link_jaccard" -> ((spark, sfDir) =>
      linkJaccardFrom(coPurchaseEdges(spark, sfDir),
        orientedArcsFor(spark, sfDir), copurchaseDegFor(spark, sfDir),
        Some(orientedAdjListFor(spark, sfDir)))
        .orderBy(desc("jac"), col("u"), col("v"))
        .limit(20)),

    // ADAMIC–ADAR LINK SCORING — x87's hub-discounted sibling: the
    // same common-neighbor evidence, but each shared neighbor z
    // contributes 1/ln(deg z) instead of 1 — the link-prediction
    // weighting that separates "two parts share a niche basket"
    // (strong) from "two parts share the catalog's most-ordered SKU"
    // (weak). In a crawl pipeline AA scores candidate edges for graph
    // densification without letting mega-hubs glue everything to
    // everything. Per-node terms land on a 10⁶ integer grid BEFORE
    // the wedge expansion, so the pair score is an exact BIGINT sum —
    // hash-oracle-able like x69/x129, unlike a float Σ1/ln would be.
    // Top-20 by (aa_fp, u, v).
    "x132_adamic_adar" -> ((spark, sfDir) =>
      adamicAdarFrom(orientedArcsFor(spark, sfDir),
        copurchaseDegFor(spark, sfDir),
        Some(orientedAdjListFor(spark, sfDir)))
        .orderBy(desc("aa_fp"), col("u"), col("v"))
        .limit(20)),

    // RESOURCE ALLOCATION — the 1/deg hub discount on the SAME
    // triangle incidence stream and lake artifacts as x132 (three
    // link predictors, one enumeration: x87 Jaccard, x132 AA, x257
    // RA) — see [[resourceAllocFrom]].
    "x257_resource_alloc" -> ((spark, sfDir) =>
      resourceAllocFrom(orientedArcsFor(spark, sfDir),
        copurchaseDegFor(spark, sfDir),
        Some(orientedAdjListFor(spark, sfDir)))
        .orderBy(desc("ra_fp"), col("u"), col("v"))
        .limit(20)),
    // BOUNDED BFS REACHABILITY — the traversal primitive next to the
    // centrality (x69/x129) and counting (x81/x85-x87) families: from
    // the graph's hub (max degree, id tiebreak), the hop-1 and hop-2
    // frontiers with per-hop size + node-sum checksum. Each hop is
    // one frontier equi-join + anti-joins against the visited set —
    // the BSP BFS step every distributed graph engine runs — and the
    // hop bound keeps the job graph static (x69's discipline; deeper
    // reach is the same loop continued, lake-checkpointing the
    // frontier per round). The seed is ONE driver-collected scalar
    // off a TakeOrdered(1) — the A3-class contract edge, not a
    // driver loop. The hub's 2-hop ball on a co-purchase graph is
    // the "blast radius" read a recommender sanity-checks.
    "x140_bfs_reach" -> ((spark, sfDir) =>
      bfsReach2(coPurchaseEdges(spark, sfDir)).orderBy(col("hop"))),

    // POWER-LAW EXPONENT — the Clauset-style degree-distribution MLE
    // beside x142's assortativity (assortativity reads who ATTACHES
    // to whom; α reads how heavy the hub tail is — α ≈ 2-3 is the
    // scale-free signature, and the number a crawl-prioritization or
    // sampling design keys off): x_min = the discrete p50 degree,
    // α̂ = 1 + n/Σ ln(2d/(2x_min−1)) with every ln over one exact
    // integer rational onto the 10⁻⁶ grid and ONE division at
    // readout (see powerlawReport). Node-sized work off the
    // persisted degree artifact.
    "x172_powerlaw_alpha" -> ((spark, sfDir) =>
      powerlawReport(copurchaseDegFor(spark, sfDir))),

    // BFS DISTANCE HISTOGRAM / EFFECTIVE DIAMETER — x140's 2-hop
    // ball extended to the small-world readout ("how many hops cover
    // 90% of what's reachable"): 4 bounded frontier rounds from the
    // hub, per-hop counts, cumulative ball shares and the 90%-ball
    // effective diameter decided by the exact integer compare
    // cum·10 ≥ ball·9 (see bfsDistHist; the truncated-horizon form
    // IS the honest one at 100 TB — each hop is one frontier
    // equi-join + anti-join, never a full APSP).
    "x173_bfs_diameter" -> ((spark, sfDir) =>
      bfsDistHist(coPurchaseEdges(spark, sfDir),
        // hub seed off the node-sized degree artifact (same
        // (deg desc, node) rule the in-frame aggregate applies)
        seedOpt = Some(copurchaseDegFor(spark, sfDir)
          .orderBy(desc("deg"), col("n")).limit(1)
          .head().getLong(0)))),

    // DEGREE ASSORTATIVITY — the one-number structural fingerprint
    // the graph family's per-node reads (x69/x81/x85) don't give:
    // Pearson correlation of endpoint degrees over all arcs (both
    // directions, so the x/y marginals coincide). r < 0 = hubs bind
    // leaves (stars — a crawl's link farms), r > 0 = rich-club
    // core. Sufficient statistics Σd, Σd², Σd·d' are exact BIGINTs
    // off ONE arc⋈degree join (the cross-multiplied products stay
    // < 2⁶³ through ~sf10; past that the sums swap to DECIMAL(38,0)
    // accumulation unchanged), then one float chain at 4 dp. A
    // regular graph has zero degree variance — r is undefined, and
    // the NULL is the honest answer (guarded, not NaN).
    "x142_assortativity" -> ((spark, sfDir) =>
      assortativity(coPurchaseEdges(spark, sfDir),
        copurchaseDegFor(spark, sfDir))),

    // PERSONALIZED PAGERANK — "importance relative to an anchor"
    // where x69 ranks globally: the teleport vector concentrates at
    // one seed (the co-purchase hub — x140's seed discipline), so
    // rank mass measures multi-hop proximity to the anchor, damped
    // per hop. This is the related-items/trusted-seed read (TrustRank
    // seeds at known-good domains; a recommender seeds at the anchor
    // product) — structurally PageRank with a different teleport, and
    // the implementation says exactly that: [[pprMeta]] swaps the
    // meta frame, [[iterate]] is reused verbatim, so the per-round
    // cost (one edge equi-join + one partial-agg'able integer sum) and
    // the integer-exact hash-oracle property carry over unchanged.
    // Top-20 readout: the seed's damped neighborhood, which is the
    // answer a serving layer caches.
    "x144_personalized_pagerank" -> ((spark, sfDir) => {
      iterate(Lake.materialize(spark, sfDir, PprAdjacency),
        Lake.materialize(spark, sfDir, PprNodes), iters = 3)
        .orderBy(desc("rank_fp"), col("node"))
        .limit(20)
    }),

    // RICH-CLUB COEFFICIENT — "do the hubs form their own clique?"
    // beside x142's one-number assortativity: φ(k) = the edge density
    // among nodes of degree > k at the graph's own p50/p75/p90 degree
    // cuts. φ rising toward the top decile = a rich-club core (the
    // crawl's hub cartel); φ flat/falling = hubs bind leaves. See
    // [[richClub]] for the bounded-spine shape and the empty-club
    // contract.
    "x151_rich_club" -> ((spark, sfDir) =>
      richClub(coPurchaseEdges(spark, sfDir),
        copurchaseDegFor(spark, sfDir))),

    // MODULARITY — the one-number quality score of a community
    // PARTITION (x142 fingerprints degree structure; this scores an
    // assignment): Newman's Q over x80's label-propagation nations on
    // the bipartite part↔supplier graph — the standard "did label
    // prop find real structure" check (Q ≈ 0 = no better than random
    // given the degree sequence). Per-community rows expose which
    // nations cohere; exact-BIGINT numerators throughout (see
    // [[modularityReport]]), communities bound the frame at
    // |nations|, and the only corpus-scale work is the one
    // edge⋈label join — everything after is label-grain.
    "x145_modularity" -> ((spark, sfDir) => {
      val labels = labelPropRound2(spark, sfDir)
        .select(col("node"), col("label"))
      val edges = Lake.materialize(spark, sfDir, HitsPairs)
        .select(concat(lit("P"), col("p").cast("string")).as("u"),
          concat(lit("S"), col("s").cast("string")).as("v"))
      modularityReport(edges, labels).orderBy(col("label"))
    }),

    // LABEL PROPAGATION — the semi-supervised classification sibling
    // of x18's components and x69's centrality: supplier nodes seed
    // their nation, two majority-vote rounds spread it across the
    // bipartite graph (round 1 labels every part by its dominant
    // supplier nation; round 2 re-derives each supplier's label from
    // its parts — a stability probe: seed_agrees=false marks
    // suppliers whose parts are dominated by ANOTHER nation's
    // suppliers). In a crawl pipeline the same operator spreads
    // trusted domain-topic labels across the link graph. Integer
    // votes + deterministic tiebreak ⇒ full hash oracle for an
    // iterative graph algorithm, like x69.
    "x80_label_prop" -> ((spark, sfDir) => {
      val seeds = nationSeeds(spark, sfDir)
      labelPropRound2(spark, sfDir)
        .join(seeds.select(col("node"), col("label").as("seed_label")),
          Seq("node"), "left")
        .select(col("node"), col("label"), col("votes"),
          col("seed_label").isNotNull.as("is_seed"),
          when(col("seed_label").isNotNull,
            col("label") === col("seed_label")).as("seed_agrees"))
        .orderBy(col("node"))
    }),
    // GRAPH CENTRALITY — 3 fixed-point power iterations over the
    // persisted part↔supplier adjacency; top-20 hubs. Suppliers serve
    // many parts, so the S-side dominates — the query is the "which
    // domains anchor the crawl" readout.
    "x69_pagerank" -> ((spark, sfDir) => {
      // both loop inputs are lake artifacts: iterations scan two
      // compact parquet tables — no degree/count recompute per round
      // (the v1 artifact stored bare edges and re-aggregated the
      // degree inside every iteration: 10x the shuffled volume)
      iterate(Lake.materialize(spark, sfDir, PrAdjacency),
        Lake.materialize(spark, sfDir, PrNodes), iters = 3)
        .orderBy(desc("rank_fp"), col("node"))
        .limit(20)
    }),

    // WEIGHTED PAGERANK — x69's centrality with co-purchase
    // MULTIPLICITY as the edge weight (how many orders share the
    // pair), so rank mass flows proportionally to evidence strength
    // instead of treating a 50-order affinity like a one-order
    // coincidence; see [[weightedPageRankFp]]. The weighted edge
    // table is its own lake artifact (the distinct-pair artifact the
    // triangle family shares deliberately drops multiplicity). The
    // symmetric arc frame makes every node a src — no dangling mass
    // by construction. Top-20 by (rank desc, node).
    "x200_weighted_pagerank" -> ((spark, sfDir) => {
      val ew = Lake.materialize(spark, sfDir, CopurchaseWedges)
      val arcs = ew.select(col("u").as("src"), col("v").as("dst"), col("w"))
        .unionAll(ew.select(col("v").as("src"), col("u").as("dst"), col("w")))
      weightedPageRankFp(arcs, iters = 3)
        .select(col("node"), col("rank_fp"))
        .orderBy(desc("rank_fp"), col("node"))
        .limit(20)
    }),

    // HITS HUBS/AUTHORITIES — the second classic link-analysis
    // centrality, on the DIRECTED part→supplier graph (PageRank x69
    // runs the undirected both-ways materialization): parts are hubs,
    // suppliers authorities, and two mutual-reinforcement rounds rank
    // "the suppliers that serve the best-connected parts" — the
    // directed-endorsement read a crawl pipeline uses to rank link
    // TARGETS where PageRank ranks the whole node set. Kleinberg's
    // L2 normalization is replaced by exact SUM normalization in
    // [[HitsScale]] fixed point (same eigenvector up to scale on the
    // dominant direction, and — unlike an engine-ordered float L2 —
    // integer-exact and associative, so the two-round readout takes a
    // full hash oracle). Per round: one edge-grain equi-join + one
    // partial-aggregatable integer sum + a 1-row broadcast total —
    // x69's per-iteration scale shape exactly.
    "x129_hits" -> ((spark, sfDir) =>
      hitsTwoRounds(Lake.materialize(spark, sfDir, HitsPairs))
        .orderBy(desc("auth_fp"), col("supplier"))
        .limit(20)),

    // ASSOCIATION RULES — the market-basket read of the co-purchase
    // structure the graph family (x81-x87) treats topologically:
    // for every ordered rule a→b over parts sharing an order,
    // support = n(ab)/N, confidence = n(ab)/n(a), and
    // lift = n(ab)·N / (n(a)·n(b)) — the recommender/merchandising
    // primitive where lift > 1 separates real affinity from
    // popularity coincidence. All counts are exact integers off the
    // distinct (order, part) frame; the pair expansion is basket-
    // bounded (≤ C(7,2) per order — x81's argument), the min-support
    // prune (n_ab ≥ 3, the Apriori idea) runs BEFORE the stats
    // joins, and the three ratios are single correctly-rounded
    // divisions at 4 dp. Top-20 by (lift, a, b).
    "x127_association_rules" -> ((spark, sfDir) => {
      // the distinct (order, part) basket frame feeds FOUR plan
      // branches (order count, item marginals, both pair-join sides);
      // as a lake artifact each branch is a scan of one compact
      // parquet instead of its own fact-table scan + distinct shuffle
      // (x03's shared-artifact discipline, applied to the basket
      // lattice)
      val items = Lake.materialize(spark, sfDir, BasketItems)
      val nOrders = broadcast(items.select(col("ok")).distinct()
        .agg(count(lit(1)).as("n_orders")))
      val itemN = items.groupBy(col("pk")).agg(count(lit(1)).as("n_i"))
      val pairN = basketPairs(items)
        .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3)
      pairN.unionByName(pairN.select(col("b").as("a"), col("a").as("b"),
          col("n_ab")))
        .join(itemN.select(col("pk").as("a"), col("n_i").as("n_a")), "a")
        .join(itemN.select(col("pk").as("b"), col("n_i").as("n_b")), "b")
        .crossJoin(nOrders)
        .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
          round(col("n_ab").cast("double") / col("n_orders"), 4)
            .as("support"),
          round(col("n_ab").cast("double") / col("n_a"), 4)
            .as("confidence"),
          round((col("n_ab") * col("n_orders")).cast("double") /
            (col("n_a") * col("n_b")), 4).as("lift"))
        .orderBy(desc("lift"), col("a"), col("b"))
        .limit(20)
    })
  )

  // 3 unrolled iterations of the identical integer recurrence; DuckDB
  // `//` and Spark `DIV` agree on non-negative bigints, and CASTs pin
  // DuckDB's HUGEINT sum widening back to BIGINT before compare.
  val oracles: Map[String, String] = Map(
    // same directed pair frame, same h0 = 1 exact in-degree start
    // (the uniform constant cancels in the immediate normalization),
    // same sum-normalization in 10^12 fixed point per round (HUGEINT
    // // ≡ the Spark side's DECIMAL(38,0) exact floor division), same
    // (auth desc, supplier) cut
    "x129_hits" ->
      ("WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem), " +
        "a1 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS a1 " +
        "FROM pairs GROUP BY 1), " +
        "a1t AS (SELECT CAST(SUM(a1) AS BIGINT) AS t FROM a1), " +
        s"a1n AS (SELECT s, CAST((CAST(a1 AS HUGEINT) * $HitsScale) // t AS BIGINT) AS a1 FROM a1, a1t), " +
        "h1 AS (SELECT p, CAST(SUM(a1) AS BIGINT) AS h1 " +
        "FROM pairs JOIN a1n USING (s) GROUP BY 1), " +
        "h1t AS (SELECT CAST(SUM(h1) AS BIGINT) AS t FROM h1), " +
        s"h1n AS (SELECT p, CAST((CAST(h1 AS HUGEINT) * $HitsScale) // t AS BIGINT) AS h1 FROM h1, h1t), " +
        "a2 AS (SELECT s, CAST(SUM(h1) AS BIGINT) AS a2 " +
        "FROM pairs JOIN h1n USING (p) GROUP BY 1), " +
        "a2t AS (SELECT CAST(SUM(a2) AS BIGINT) AS t FROM a2) " +
        s"SELECT s AS supplier, CAST((CAST(a2 AS HUGEINT) * $HitsScale) // t AS BIGINT) AS auth_fp " +
        "FROM a2, a2t ORDER BY auth_fp DESC, supplier LIMIT 20"),
    // same distinct basket frame, same ≥3 support prune before the
    // stats joins, same three divisions and (lift, a, b) cut
    "x127_association_rules" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "no AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items), " +
        "itn AS (SELECT pk, COUNT(*) AS n_i FROM items GROUP BY 1), " +
        "pn AS (SELECT x.pk AS a, y.pk AS b, COUNT(*) AS n_ab FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk GROUP BY 1, 2 " +
        "HAVING COUNT(*) >= 3), " +
        "rules AS (SELECT a, b, n_ab FROM pn " +
        "UNION ALL SELECT b, a, n_ab FROM pn) " +
        "SELECT r.a, r.b, r.n_ab, ia.n_i AS n_a, ib.n_i AS n_b, " +
        "ROUND(CAST(r.n_ab AS DOUBLE) / n_orders, 4) AS support, " +
        "ROUND(CAST(r.n_ab AS DOUBLE) / ia.n_i, 4) AS confidence, " +
        "ROUND(CAST(r.n_ab * n_orders AS DOUBLE) / (ia.n_i * ib.n_i), 4) AS lift " +
        "FROM rules r JOIN itn ia ON r.a = ia.pk JOIN itn ib ON r.b = ib.pk, no " +
        "ORDER BY lift DESC, r.a, r.b LIMIT 20"),
    // same degree-ordered orientation and three-join closure; COUNTs
    // cast back to BIGINT against DuckDB's HUGEINT widening
    // same symmetric arc frame, same three vector hops with exact
    // BIGINT walk counts, same 4/2/1-over-8 fixed-point readout
    "x220_katz_centrality" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk), " +
        "arcs AS (SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e), " +
        "nodes AS (SELECT DISTINCT s AS node FROM arcs), " +
        "w1 AS (SELECT t AS node, CAST(COUNT(*) AS BIGINT) AS x FROM arcs GROUP BY 1), " +
        "w2 AS (SELECT a.t AS node, CAST(SUM(w1.x) AS BIGINT) AS x " +
        "FROM arcs a JOIN w1 ON a.s = w1.node GROUP BY 1), " +
        "w3 AS (SELECT a.t AS node, CAST(SUM(w2.x) AS BIGINT) AS x " +
        "FROM arcs a JOIN w2 ON a.s = w2.node GROUP BY 1), " +
        "k AS (SELECT nodes.node, COALESCE(w1.x, 0) AS w1, " +
        "COALESCE(w2.x, 0) AS w2, COALESCE(w3.x, 0) AS w3 " +
        "FROM nodes LEFT JOIN w1 ON nodes.node = w1.node " +
        "LEFT JOIN w2 ON nodes.node = w2.node " +
        "LEFT JOIN w3 ON nodes.node = w3.node) " +
        "SELECT node, w1, w2, w3, " +
        "ROUND(CAST(4 * w1 + 2 * w2 + w3 AS DOUBLE) / 8.0, 4) AS katz " +
        "FROM k ORDER BY katz DESC, node LIMIT 20"),
    // x81's orientation + triangle closure, the three-arc support
    // union, and two unrolled peel rounds
    "x240_ktruss" -> {
      // AS MATERIALIZED is load-bearing: DuckDB inlines CTEs by
      // default, so round 2's three references to a1 would each
      // re-expand the whole round-1 triangle chain — measured >79 GB
      // of temp spill at sf0.1 vs 18 s with the chain pinned
      def tri(src: String, name: String): String =
        s"$name AS MATERIALIZED (SELECT e1.s AS a, e1.t AS b, e2.t AS c " +
          s"FROM $src e1 JOIN $src e2 ON e1.s = e2.s AND e1.t <> e2.t " +
          s"JOIN $src e3 ON e3.s = e1.t AND e3.t = e2.t)"
      def round(triName: String, src: String, supName: String,
          outName: String): String =
        s"$supName AS MATERIALIZED (SELECT s, t, CAST(COUNT(*) AS BIGINT) AS sup FROM " +
          s"(SELECT a AS s, b AS t FROM $triName " +
          s"UNION ALL SELECT a, c FROM $triName " +
          s"UNION ALL SELECT b, c FROM $triName) GROUP BY 1, 2), " +
          s"$outName AS MATERIALIZED (SELECT $src.s, $src.t FROM $src " +
          s"LEFT JOIN $supName USING (s, t) WHERE COALESCE(sup, 0) >= 2)"
      "WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk), " +
        "deg AS (SELECT n, COUNT(*) AS d FROM " +
        "(SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1), " +
        "arcs AS MATERIALIZED (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) " +
        "THEN e.u ELSE e.v END AS s, " +
        "CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) " +
        "THEN e.v ELSE e.u END AS t " +
        "FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n), " +
        tri("arcs", "tri1") + ", " + round("tri1", "arcs", "sup1", "a1") + ", " +
        tri("a1", "tri2") + ", " + round("tri2", "a1", "sup2", "a2") + " " +
        "SELECT 1 AS round, 4 AS k, " +
        "CAST((SELECT COUNT(*) FROM arcs) AS BIGINT) AS edges_in, " +
        "CAST((SELECT COUNT(*) FROM a1) AS BIGINT) AS edges_kept " +
        "UNION ALL SELECT 2, 4, CAST((SELECT COUNT(*) FROM a1) AS BIGINT), " +
        "CAST((SELECT COUNT(*) FROM a2) AS BIGINT) ORDER BY round"
    },
    "x81_triangle_count" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk), " +
        "deg AS (SELECT n, COUNT(*) AS d FROM " +
        "(SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1), " +
        "arcs AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) " +
        "THEN e.u ELSE e.v END AS s, " +
        "CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) " +
        "THEN e.v ELSE e.u END AS t " +
        "FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n), " +
        "tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c " +
        "FROM arcs e1 JOIN arcs e2 ON e1.s = e2.s AND e1.t <> e2.t " +
        "JOIN arcs e3 ON e3.s = e1.t AND e3.t = e2.t) " +
        "SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM " +
        "(SELECT a AS node FROM tri UNION ALL SELECT b FROM tri " +
        "UNION ALL SELECT c FROM tri) " +
        "GROUP BY node ORDER BY tri DESC, node LIMIT 20"),
    // x81's closure reused; the one double division lands on the 4 dp
    // grid after exact-integer numerator/denominator
    "x85_clustering_coeff" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk), " +
        "deg AS (SELECT n, COUNT(*) AS d FROM " +
        "(SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1), " +
        "arcs AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) " +
        "THEN e.u ELSE e.v END AS s, " +
        "CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) " +
        "THEN e.v ELSE e.u END AS t " +
        "FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n), " +
        "tri0 AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c " +
        "FROM arcs e1 JOIN arcs e2 ON e1.s = e2.s AND e1.t <> e2.t " +
        "JOIN arcs e3 ON e3.s = e1.t AND e3.t = e2.t), " +
        "tr AS (SELECT node, COUNT(*) AS tri FROM " +
        "(SELECT a AS node FROM tri0 UNION ALL SELECT b FROM tri0 " +
        "UNION ALL SELECT c FROM tri0) GROUP BY 1) " +
        "SELECT d.n AS node, CAST(d.d AS BIGINT) AS deg, " +
        "CAST(COALESCE(t.tri, 0) AS BIGINT) AS tri, " +
        "ROUND(CAST(COALESCE(t.tri, 0) * 2 AS DOUBLE) / " +
        "CAST(d.d * (d.d - 1) AS DOUBLE), 4) AS cc " +
        "FROM deg d LEFT JOIN tr t ON d.n = t.node WHERE d.d >= 2 " +
        "ORDER BY cc DESC, node LIMIT 20"),
    // two unrolled peel rounds, each = degree filter + two
    // edge-closing joins; k = the discrete p25 initial degree
    "x86_kcore_peel" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk), " +
        "e0 AS (SELECT u AS src, v AS dst FROM e " +
        "UNION ALL SELECT v AS src, u AS dst FROM e), " +
        "kv AS (SELECT CAST(quantile_disc(c, 0.25) AS BIGINT) AS k FROM " +
        "(SELECT src, COUNT(*) AS c FROM e0 GROUP BY 1)), " +
        "a1 AS (SELECT src FROM e0 GROUP BY src " +
        "HAVING COUNT(*) >= (SELECT k FROM kv)), " +
        "e1 AS (SELECT e0.src, e0.dst FROM e0 JOIN a1 x ON e0.src = x.src " +
        "JOIN a1 y ON e0.dst = y.src), " +
        "a2 AS (SELECT src FROM e1 GROUP BY src " +
        "HAVING COUNT(*) >= (SELECT k FROM kv)), " +
        "e2 AS (SELECT e1.src, e1.dst FROM e1 JOIN a2 x ON e1.src = x.src " +
        "JOIN a2 y ON e1.dst = y.src) " +
        "SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e2 " +
        "GROUP BY 1 ORDER BY node"),
    // per-node micro-unit terms on the arc frame (one division + one
    // ROUND each — LN over an exact integer degree, x119's ln rule),
    // then the identical wedge join and exact BIGINT sum
    "x132_adamic_adar" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk), " +
        "deg AS (SELECT n, COUNT(*) AS d FROM " +
        "(SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1), " +
        "arcs AS (SELECT u AS n, v AS nbr FROM e " +
        "UNION ALL SELECT v AS n, u AS nbr FROM e), " +
        "trm AS (SELECT a.n, a.nbr, CASE WHEN d.d >= 2 THEN " +
        "CAST(ROUND(1000000 / LN(CAST(d.d AS DOUBLE)), 0) AS BIGINT) " +
        "ELSE 0 END AS term_fp FROM arcs a JOIN deg d ON a.n = d.n), " +
        "w AS (SELECT a.nbr AS u, b.nbr AS v, a.term_fp FROM trm a " +
        "JOIN arcs b ON a.n = b.n AND a.nbr < b.nbr) " +
        "SELECT w.u, w.v, CAST(COUNT(*) AS BIGINT) AS cn, " +
        "CAST(SUM(w.term_fp) AS BIGINT) AS aa_fp " +
        "FROM w JOIN e ON w.u = e.u AND w.v = e.v GROUP BY 1, 2 " +
        "ORDER BY aa_fp DESC, w.u, w.v LIMIT 20"),
    // x132's incidence oracle with the 1/deg witness term
    "x257_resource_alloc" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk), " +
        "deg AS (SELECT n, COUNT(*) AS d FROM " +
        "(SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1), " +
        "arcs AS (SELECT u AS n, v AS nbr FROM e " +
        "UNION ALL SELECT v AS n, u AS nbr FROM e), " +
        "trm AS (SELECT a.n, a.nbr, CASE WHEN d.d > 0 THEN " +
        "CAST(ROUND(1000000 / CAST(d.d AS DOUBLE), 0) AS BIGINT) " +
        "ELSE 0 END AS term_fp FROM arcs a JOIN deg d ON a.n = d.n), " +
        "w AS (SELECT a.nbr AS u, b.nbr AS v, a.term_fp FROM trm a " +
        "JOIN arcs b ON a.n = b.n AND a.nbr < b.nbr) " +
        "SELECT w.u, w.v, CAST(COUNT(*) AS BIGINT) AS cn, " +
        "CAST(SUM(w.term_fp) AS BIGINT) AS ra_fp " +
        "FROM w JOIN e ON w.u = e.u AND w.v = e.v GROUP BY 1, 2 " +
        "ORDER BY ra_fp DESC, w.u, w.v LIMIT 20"),
    // wedge join grouped to pairs, inclusion–exclusion union size
    "x87_link_jaccard" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk), " +
        "arcs AS (SELECT u AS n, v AS nbr FROM e " +
        "UNION ALL SELECT v AS n, u AS nbr FROM e), " +
        "cmn AS (SELECT a.nbr AS u, b.nbr AS v, COUNT(*) AS cn " +
        "FROM arcs a JOIN arcs b ON a.n = b.n AND a.nbr < b.nbr GROUP BY 1, 2), " +
        "deg AS (SELECT n, COUNT(*) AS deg FROM " +
        "(SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1) " +
        "SELECT e.u, e.v, CAST(COALESCE(c.cn, 0) AS BIGINT) AS cn, " +
        "ROUND(CAST(COALESCE(c.cn, 0) AS DOUBLE) / " +
        "CAST(du.deg + dv.deg - COALESCE(c.cn, 0) AS DOUBLE), 4) AS jac " +
        "FROM e LEFT JOIN cmn c ON e.u = c.u AND e.v = c.v " +
        "JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n " +
        "ORDER BY jac DESC, e.u, e.v LIMIT 20"),
    // same arc⋈degree join and exact sufficient statistics; the CASE
    // guard mirrors the regular-graph NULL contract
    "x142_assortativity" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk), " +
        "deg AS (SELECT n, COUNT(*) AS d FROM " +
        "(SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1), " +
        "arcs AS (SELECT u AS a, v AS b FROM e " +
        "UNION ALL SELECT v AS a, u AS b FROM e), " +
        "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_arcs, " +
        "CAST(SUM(da.d) AS BIGINT) AS sx, " +
        "CAST(SUM(da.d * da.d) AS BIGINT) AS sxx, " +
        "CAST(SUM(da.d * db.d) AS BIGINT) AS sxy " +
        "FROM arcs JOIN deg da ON arcs.a = da.n JOIN deg db ON arcs.b = db.n) " +
        "SELECT n_arcs, ROUND(CAST(sx AS DOUBLE) / n_arcs, 4) AS mean_deg, " +
        "CASE WHEN n_arcs * sxx - sx * sx <> 0 THEN " +
        "ROUND(CAST(n_arcs * sxy - sx * sx AS DOUBLE) / " +
        "CAST(n_arcs * sxx - sx * sx AS DOUBLE), 4) END AS assortativity " +
        "FROM s"),
    // x69's unrolled integer recurrence with the teleport vector
    // moved to the hub seed (x140's seed CTE); dangling mass is zero
    // on the symmetric arc set so the pure edge form is exact
    "x144_personalized_pagerank" -> {
      def iter(prev: String, out: String): String =
        s"c$out AS (SELECT a.dst AS node, " +
          s"CAST(SUM(r.rank_fp // r.outdeg) AS BIGINT) AS in_mass " +
          s"FROM arcs a JOIN r$prev r ON a.src = r.node GROUP BY 1), " +
          s"r$out AS (SELECT r$prev.node, r$prev.outdeg, r$prev.base_fp, " +
          s"CAST(r$prev.base_fp + (85 * COALESCE(c$out.in_mass, 0)) // 100 " +
          s"AS BIGINT) AS rank_fp " +
          s"FROM r$prev LEFT JOIN c$out ON r$prev.node = c$out.node)"
      "WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk), " +
        "arcs AS (SELECT u AS src, v AS dst FROM e " +
        "UNION ALL SELECT v AS src, u AS dst FROM e), " +
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM arcs GROUP BY 1), " +
        "seed AS (SELECT src FROM deg ORDER BY outdeg DESC, src LIMIT 1), " +
        "r0 AS (SELECT d.src AS node, d.outdeg, " +
        "CASE WHEN d.src = (SELECT src FROM seed) " +
        "THEN CAST(1000000000000 AS BIGINT) ELSE 0 END AS rank_fp, " +
        "CASE WHEN d.src = (SELECT src FROM seed) " +
        "THEN CAST(150000000000 AS BIGINT) ELSE 0 END AS base_fp FROM deg d), " +
        iter("0", "1") + ", " + iter("1", "2") + ", " + iter("2", "3") + " " +
        "SELECT node, rank_fp FROM r3 ORDER BY rank_fp DESC, node LIMIT 20"
    },
    // same quantile spine, club filters and one division; empty
    // clubs survive via the spine LEFT JOINs on both engines
    "x151_rich_club" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk), " +
        "deg AS (SELECT n, COUNT(*) AS deg FROM " +
        "(SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1), " +
        "q AS (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY deg) AS k50, " +
        "percentile_disc(0.75) WITHIN GROUP (ORDER BY deg) AS k75, " +
        "percentile_disc(0.9) WITHIN GROUP (ORDER BY deg) AS k90 FROM deg), " +
        "ks AS (SELECT 'p50' AS level, k50 AS k FROM q " +
        "UNION ALL SELECT 'p75', k75 FROM q " +
        "UNION ALL SELECT 'p90', k90 FROM q), " +
        "ek AS (SELECT level, k, CAST(COUNT(*) AS BIGINT) AS e_in " +
        "FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n " +
        "CROSS JOIN ks WHERE du.deg > ks.k AND dv.deg > ks.k GROUP BY 1, 2), " +
        "nk AS (SELECT level, k, CAST(COUNT(*) AS BIGINT) AS n_nodes " +
        "FROM deg CROSS JOIN ks WHERE deg.deg > ks.k GROUP BY 1, 2) " +
        "SELECT ks.level, CAST(ks.k AS BIGINT) AS k, " +
        "COALESCE(n_nodes, 0) AS n_nodes, COALESCE(e_in, 0) AS e_in, " +
        "CASE WHEN COALESCE(n_nodes, 0) >= 2 THEN " +
        "ROUND(CAST(2 * COALESCE(e_in, 0) AS DOUBLE) / " +
        "CAST(n_nodes * (n_nodes - 1) AS DOUBLE), 4) END AS phi " +
        "FROM ks LEFT JOIN nk USING (level, k) LEFT JOIN ek USING (level, k) " +
        "ORDER BY ks.level"),
    // x80's label chain re-used verbatim for the partition, then the
    // exact-BIGINT modularity numerators over the bipartite edge set
    "x145_modularity" ->
      ("WITH pairs AS (SELECT DISTINCT 'P' || CAST(l_partkey AS VARCHAR) AS p, " +
        "'S' || CAST(l_suppkey AS VARCHAR) AS s FROM lineitem), " +
        "edges AS (SELECT p AS src, s AS dst FROM pairs " +
        "UNION ALL SELECT s AS src, p AS dst FROM pairs), " +
        "seeds AS (SELECT 'S' || CAST(s_suppkey AS VARCHAR) AS node, " +
        "n_name AS label FROM supplier JOIN nation ON s_nationkey = n_nationkey), " +
        "v1 AS (SELECT e.dst, l.label, COUNT(*) AS votes FROM edges e " +
        "JOIN seeds l ON e.src = l.node GROUP BY 1, 2), " +
        "p1 AS (SELECT dst AS node, label FROM v1 " +
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY dst ORDER BY votes DESC, label) = 1), " +
        "l1 AS (SELECT node, label FROM seeds UNION ALL SELECT node, label FROM p1), " +
        "v2 AS (SELECT e.dst, l.label, COUNT(*) AS votes FROM edges e " +
        "JOIN l1 l ON e.src = l.node GROUP BY 1, 2), " +
        "lab AS (SELECT dst AS node, label FROM v2 " +
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY dst ORDER BY votes DESC, label) = 1), " +
        "bip AS (SELECT DISTINCT 'P' || CAST(l_partkey AS VARCHAR) AS u, " +
        "'S' || CAST(l_suppkey AS VARCHAR) AS v FROM lineitem), " +
        "mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM bip), " +
        "wi AS (SELECT lu.label, CAST(COUNT(*) AS BIGINT) AS e_within " +
        "FROM bip JOIN lab lu ON bip.u = lu.node " +
        "JOIN lab lv ON bip.v = lv.node " +
        "WHERE lu.label = lv.label GROUP BY 1), " +
        "dg AS (SELECT l.label, CAST(COUNT(*) AS BIGINT) AS deg_sum FROM " +
        "(SELECT u AS node FROM bip UNION ALL SELECT v AS node FROM bip) nd " +
        "JOIN lab l ON nd.node = l.node GROUP BY 1), " +
        "nn AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes " +
        "FROM lab GROUP BY 1), " +
        "sc AS (SELECT nn.label, nn.n_nodes, " +
        "COALESCE(wi.e_within, 0) AS e_within, " +
        "COALESCE(dg.deg_sum, 0) AS deg_sum, (SELECT m FROM mm) AS m, " +
        "4 * (SELECT m FROM mm) * COALESCE(wi.e_within, 0) - " +
        "COALESCE(dg.deg_sum, 0) * COALESCE(dg.deg_sum, 0) AS num " +
        "FROM nn LEFT JOIN dg ON nn.label = dg.label " +
        "LEFT JOIN wi ON nn.label = wi.label) " +
        "SELECT label, n_nodes, e_within, deg_sum, " +
        "ROUND(CAST(num AS DOUBLE) / (4.0 * m * m), 4) + 0 AS q_contrib, " +
        "ROUND(CAST(SUM(num) OVER () AS DOUBLE) / (4.0 * m * m), 4) + 0 AS q " +
        "FROM sc ORDER BY label"),
    // same hub seed, frontier joins and visited-set anti-joins
    // same degree frame, p50 cut (quantile_disc ≡ percentile_disc),
    // the exact-rational ln arguments on the 10^-6 grid and one
    // division; CASTs pin HUGEINT widenings
    "x172_powerlaw_alpha" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk), " +
        "deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM " +
        "(SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1), " +
        "q AS (SELECT CAST(quantile_disc(deg, 0.5) AS BIGINT) AS d_min FROM deg), " +
        "f AS (SELECT deg, d_min, " +
        "CAST(ROUND(LN(CAST(deg * 2 AS DOUBLE) / " +
        "CAST(d_min * 2 - 1 AS DOUBLE)) * 1000000.0) AS BIGINT) AS term_fp " +
        "FROM deg, q WHERE deg >= d_min), " +
        "a AS (SELECT CAST(MIN(d_min) AS BIGINT) AS d_min, " +
        "CAST(COUNT(*) AS BIGINT) AS n_tail, " +
        "CAST(MAX(deg) AS BIGINT) AS d_max, " +
        "CAST(SUM(term_fp) AS BIGINT) AS s FROM f), " +
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg) " +
        "SELECT n_nodes, d_min, n_tail, d_max, " +
        "ROUND(1.0 + CAST(n_tail * 1000000 AS DOUBLE) / CAST(s AS DOUBLE), 4) " +
        "AS alpha FROM a, nn"),
    // x140's seed/frontier CTEs iterated two hops further; the
    // effective diameter is the same exact cum*10 >= ball*9 compare
    "x173_bfs_diameter" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk), " +
        "arcs AS (SELECT u AS src, v AS dst FROM e " +
        "UNION ALL SELECT v AS src, u AS dst FROM e), " +
        "seed AS (SELECT src FROM (SELECT src, COUNT(*) AS d FROM arcs " +
        "GROUP BY 1) ORDER BY d DESC, src LIMIT 1), " +
        "f1 AS (SELECT DISTINCT dst AS node FROM arcs " +
        "WHERE src = (SELECT src FROM seed) " +
        "AND dst <> (SELECT src FROM seed)), " +
        "f2 AS (SELECT DISTINCT a.dst AS node FROM arcs a " +
        "JOIN f1 ON a.src = f1.node " +
        "WHERE a.dst NOT IN (SELECT node FROM f1) " +
        "AND a.dst <> (SELECT src FROM seed)), " +
        "f3 AS (SELECT DISTINCT a.dst AS node FROM arcs a " +
        "JOIN f2 ON a.src = f2.node " +
        "WHERE a.dst NOT IN (SELECT node FROM f1) " +
        "AND a.dst NOT IN (SELECT node FROM f2) " +
        "AND a.dst <> (SELECT src FROM seed)), " +
        "f4 AS (SELECT DISTINCT a.dst AS node FROM arcs a " +
        "JOIN f3 ON a.src = f3.node " +
        "WHERE a.dst NOT IN (SELECT node FROM f1) " +
        "AND a.dst NOT IN (SELECT node FROM f2) " +
        "AND a.dst NOT IN (SELECT node FROM f3) " +
        "AND a.dst <> (SELECT src FROM seed)), " +
        "lab AS (SELECT src AS node, 0 AS hop FROM seed " +
        "UNION ALL SELECT node, 1 FROM f1 " +
        "UNION ALL SELECT node, 2 FROM f2 " +
        "UNION ALL SELECT node, 3 FROM f3 " +
        "UNION ALL SELECT node, 4 FROM f4), " +
        "h AS (SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_nodes " +
        "FROM lab GROUP BY 1), " +
        "w AS (SELECT hop, n_nodes, " +
        "CAST(SUM(n_nodes) OVER (ORDER BY hop " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n, " +
        "CAST(SUM(n_nodes) OVER () AS BIGINT) AS ball_n FROM h) " +
        "SELECT CAST(hop AS INTEGER) AS hop, n_nodes, " +
        "ROUND(CAST(cum_n AS DOUBLE) / CAST(ball_n AS DOUBLE), 4) AS cum_share, " +
        "CAST(MIN(CASE WHEN cum_n * 10 >= ball_n * 9 THEN hop END) " +
        "OVER () AS INTEGER) AS eff_diameter " +
        "FROM w ORDER BY hop"),
    "x140_bfs_reach" ->
      ("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.pk AS u, y.pk AS v FROM items x " +
        "JOIN items y ON x.ok = y.ok AND x.pk < y.pk), " +
        "arcs AS (SELECT u AS src, v AS dst FROM e " +
        "UNION ALL SELECT v AS src, u AS dst FROM e), " +
        "seed AS (SELECT src FROM (SELECT src, COUNT(*) AS d FROM arcs " +
        "GROUP BY 1) ORDER BY d DESC, src LIMIT 1), " +
        "f1 AS (SELECT DISTINCT dst AS node FROM arcs " +
        "WHERE src = (SELECT src FROM seed)), " +
        "f2 AS (SELECT DISTINCT a.dst AS node FROM arcs a " +
        "JOIN f1 ON a.src = f1.node " +
        "WHERE a.dst NOT IN (SELECT node FROM f1) " +
        "AND a.dst <> (SELECT src FROM seed)), " +
        "lab AS (SELECT src AS node, 0 AS hop FROM seed " +
        "UNION ALL SELECT node, 1 FROM f1 " +
        "UNION ALL SELECT node, 2 FROM f2) " +
        "SELECT CAST(hop AS INTEGER) AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes, " +
        "CAST(SUM(node) AS BIGINT) AS node_sum FROM lab GROUP BY 1 ORDER BY 1"),
    // integer votes + the (votes desc, label asc) tiebreak replicated
    // as QUALIFY row_number — two unrolled rounds
    "x80_label_prop" ->
      ("WITH pairs AS (SELECT DISTINCT 'P' || CAST(l_partkey AS VARCHAR) AS p, " +
        "'S' || CAST(l_suppkey AS VARCHAR) AS s FROM lineitem), " +
        "edges AS (SELECT p AS src, s AS dst FROM pairs " +
        "UNION ALL SELECT s AS src, p AS dst FROM pairs), " +
        "seeds AS (SELECT 'S' || CAST(s_suppkey AS VARCHAR) AS node, " +
        "n_name AS label FROM supplier JOIN nation ON s_nationkey = n_nationkey), " +
        "v1 AS (SELECT e.dst, l.label, COUNT(*) AS votes FROM edges e " +
        "JOIN seeds l ON e.src = l.node GROUP BY 1, 2), " +
        "p1 AS (SELECT dst AS node, label FROM v1 " +
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY dst ORDER BY votes DESC, label) = 1), " +
        "l1 AS (SELECT node, label FROM seeds UNION ALL SELECT node, label FROM p1), " +
        "v2 AS (SELECT e.dst, l.label, COUNT(*) AS votes FROM edges e " +
        "JOIN l1 l ON e.src = l.node GROUP BY 1, 2), " +
        "r2 AS (SELECT dst AS node, label, votes FROM v2 " +
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY dst ORDER BY votes DESC, label) = 1) " +
        "SELECT r2.node, r2.label, CAST(r2.votes AS BIGINT) AS votes, " +
        "s.label IS NOT NULL AS is_seed, " +
        "CASE WHEN s.label IS NOT NULL THEN r2.label = s.label END AS seed_agrees " +
        "FROM r2 LEFT JOIN seeds s ON r2.node = s.node ORDER BY r2.node"),
    "x69_pagerank" -> {
      def iter(prev: String, out: String): String =
        s"c$out AS (SELECT e.dst AS node, " +
          s"CAST(SUM(r.rank_fp // r.outdeg) AS BIGINT) AS in_mass " +
          s"FROM edges e JOIN r$prev r ON e.src = r.node GROUP BY 1), " +
          s"r$out AS (SELECT d.src AS node, d.outdeg, r0.base_fp, " +
          s"CAST(r0.base_fp + (85 * c$out.in_mass) // 100 AS BIGINT) AS rank_fp " +
          s"FROM deg d JOIN c$out ON d.src = c$out.node " +
          s"JOIN r0 ON d.src = r0.node)"
      "WITH pairs AS (SELECT DISTINCT 'P' || CAST(l_partkey AS VARCHAR) AS p, " +
        "'S' || CAST(l_suppkey AS VARCHAR) AS s FROM lineitem), " +
        "edges AS (SELECT p AS src, s AS dst FROM pairs " +
        "UNION ALL SELECT s AS src, p AS dst FROM pairs), " +
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1), " +
        "nn AS (SELECT COUNT(*) AS n_nodes FROM deg), " +
        "r0 AS (SELECT src AS node, outdeg, " +
        "CAST(1000000000000 // n_nodes AS BIGINT) AS rank_fp, " +
        "CAST(150000000000 // n_nodes AS BIGINT) AS base_fp FROM deg, nn), " +
        iter("0", "1") + ", " + iter("1", "2") + ", " + iter("2", "3") + " " +
        "SELECT node, rank_fp FROM r3 ORDER BY rank_fp DESC, node LIMIT 20"
    },
    // x69's unrolled fixed-point iterations with the uniform split
    // swapped for the weight-proportional one; symmetric arcs mean
    // every node is a src, so the contribution join is inner-safe
    "x200_weighted_pagerank" -> {
      def iter(prev: String, out: String): String =
        s"c$out AS (SELECT a.dst AS node, " +
          s"CAST(SUM((r.rank_fp * a.w) // a.wsum) AS BIGINT) AS in_mass " +
          s"FROM arcs a JOIN r$prev r ON a.src = r.node GROUP BY 1), " +
          s"r$out AS (SELECT r0.node, r0.base_fp, " +
          s"CAST(r0.base_fp + (85 * COALESCE(c$out.in_mass, 0)) // 100 AS BIGINT) AS rank_fp " +
          s"FROM r0 LEFT JOIN c$out ON r0.node = c$out.node)"
      "WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "ew AS (SELECT x.pk AS u, y.pk AS v, CAST(COUNT(*) AS BIGINT) AS w " +
        "FROM items x JOIN items y ON x.ok = y.ok AND x.pk < y.pk GROUP BY 1, 2), " +
        "arcs0 AS (SELECT u AS src, v AS dst, w FROM ew " +
        "UNION ALL SELECT v AS src, u AS dst, w FROM ew), " +
        "ws AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM arcs0 GROUP BY 1), " +
        "arcs AS (SELECT arcs0.src, arcs0.dst, arcs0.w, ws.wsum " +
        "FROM arcs0 JOIN ws ON arcs0.src = ws.src), " +
        "nn AS (SELECT COUNT(*) AS n_nodes FROM ws), " +
        "r0 AS (SELECT src AS node, " +
        "CAST(150000000000 // n_nodes AS BIGINT) AS base_fp, " +
        "CAST(1000000000000 // n_nodes AS BIGINT) AS rank_fp FROM ws, nn), " +
        iter("0", "1") + ", " + iter("1", "2") + ", " + iter("2", "3") + " " +
        "SELECT node, rank_fp FROM r3 ORDER BY rank_fp DESC, node LIMIT 20"
    }
  )
}
