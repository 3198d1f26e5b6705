package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Iterative graph analytics on relational data — the capability family
  * the reference's lakehouse lacks entirely but a 100 TB corpus pipeline
  * leans on (entity importance for sampling weights, influence scoring,
  * link-spam screens; the sibling of [[graft.ops.Dedup.connectedComponents]]
  * which already powers duplicate clustering).
  *
  * PageRank here follows the engine's determinism discipline (see
  * [[graft.queries.Num]]): ranks live in integer MICRO-UNITS and every
  * per-iteration step is integer arithmetic — `r div deg` per edge, long
  * sums (order-free), `(85 * Σ) div 100` damping — so the result is
  * bit-identical regardless of partitioning, merge order, or cluster
  * size, and the whole iterative computation hash-matches a DuckDB oracle
  * with the iterations unrolled as chained CTEs. Floating-point PageRank
  * cannot make that promise: double sums reorder under shuffle.
  *
  * Scale shape per iteration: per-node contributions (r div deg, O(nodes)
  * rows) broadcast onto the checkpointed edge list — the O(edges) side is
  * never re-shuffled — then ONE shuffle, the partial-aggregated sum by
  * dst. `localCheckpoint` truncates lineage each round (the growth that
  * kills naive iterative Spark). When the node tables outgrow broadcast,
  * [[copartitionMode]] switches every edges⋈node join to the
  * co-partitioned geometry: edges pre-partitioned by src once, each
  * round's join co-locating with zero exchanges on either side.
  */
object GraphOps {

  type Q = (SparkSession, String) => DataFrame

  /** Fixed iteration count — parity with the unrolled oracle. */
  private[queries] val Iters = 5
  private val TopN = 25

  // ------------------------------------------------- join-geometry switch

  /** Every edges⋈node-table join below runs in one of two geometries:
    *
    *  - BROADCAST (small graphs): the node-sized side (ranks, labels,
    *    degrees, adjacency) ships to every executor; the O(edges) side is
    *    never re-shuffled. Adjacency payload is O(edges) in total (each
    *    oriented edge sits in exactly one array), so this geometry caps
    *    out well before the others — at ~100× sf0.1 a multi-GB adjacency
    *    broadcast OOMs driver and executors.
    *  - CO-PARTITION (at scale): both sides hash-partitioned on the node
    *    key. The edge list is repartitioned ONCE, before its checkpoint —
    *    `Dataset.checkpoint` captures outputPartitioning into the
    *    LogicalRDD, so every subsequent per-round join sees the edge side
    *    already distributed and exchanges only the node-sized side (or
    *    nothing: each round's agg output is already partitioned on the
    *    node key, and alias-aware propagation carries it through the
    *    renames). No broadcast anywhere; nothing data-sized ever
    *    concentrates on one machine.
    *
    * The pick is size-thresholded on the INPUT bytes under the data dir
    * (a metadata-only file listing, available before any job runs):
    * broadcast up to `spark.graft.graph.broadcastMaxInputBytes` (default
    * 2 GiB — node tables of a graph built from less input than that sit
    * comfortably under executor memory), co-partition above; a threshold
    * of 0 forces co-partition, `Long.MaxValue` broadcast. Spec-proven
    * result-equal in GraphOpsSpec; PlanSpec-style assertions pin the
    * absence of broadcast in co-partition plans.
    */
  private[queries] def copartitionMode(s: SparkSession, d: String): Boolean =
    graphInputBytes(s, d) > s.conf.get(
      "spark.graft.graph.broadcastMaxInputBytes", (2L << 30).toString).toLong

  /** Total bytes of the tables the graph queries read under `d` —
    * metadata-only (file listing, no job).
    */
  private def graphInputBytes(s: SparkSession, d: String): Long =
    graft.core.InputSize.bytes(s, d, Seq("lineitem.parquet", "orders.parquet"))

  /** The node-sized join side under the chosen geometry: broadcast-hinted
    * on small graphs, plain (→ shuffle join, co-located when the big side
    * is pre-partitioned) at scale.
    */
  private def side(copart: Boolean, df: DataFrame): DataFrame =
    if (copart) df else broadcast(df)

  /** PageRank over the undirected customer–supplier graph (an edge per
    * distinct trading pair in orders⋈lineitem), damping 0.85, 5
    * iterations, top-25 nodes. Node ids are namespaced `c<key>`/`s<key>`.
    */
  /** The undirected trading graph: (checkpointed edge list, degrees).
    * Nodes are PACKED LONGS internally (customer key·2, supplier key·2+1)
    * — every per-iteration shuffle, hash, and checkpoint then moves 8-byte
    * keys instead of strings; the `c<key>`/`s<key>` names the oracle sees
    * are rendered once, on the final 25 rows ([[render]]). ~35% off the
    * query's runtime at sf0.1.
    */
  private[queries] def tradingGraph(s: SparkSession, d: String,
                                    copart: Boolean = false): (DataFrame, DataFrame) = {
    val e0 = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    // edge list materialized once; degrees are O(nodes) and reused each
    // round. Co-partition mode pays ONE src-hash exchange here so the
    // checkpoint pins HashPartitioning(src) — every later join and the
    // degree agg then reuse it instead of broadcasting.
    val e = (if (copart) edges.repartition(col("src")) else edges)
      .transform(graft.core.Checkpoint.apply)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg")).transform(graft.core.Checkpoint.apply)
    (e, deg)
  }

  /** Packed long node id → the public `c<key>`/`s<key>` name. */
  private def render(node: org.apache.spark.sql.Column) =
    when(node % 2 === 0, concat(lit("c"), (node / 2).cast("long")))
      .otherwise(concat(lit("s"), ((node - 1) / 2).cast("long")))

  /** One power-iteration step. Ranks are O(nodes) — broadcast them so the
    * O(edges) side never re-shuffles; the per-node contribution
    * (r div deg) is computed once per node before fan-out to its edges.
    * The only shuffle per iteration is the partial-aggregated sum by dst.
    * (On a graph whose rank table outgrows broadcast, drop the hint and
    * pre-partition edges by src once — every iteration then co-locates
    * for free.) Package-visible so PlanSpec can assert the plan shape
    * before checkpointing hides it.
    */
  private[queries] def iterate(e: DataFrame, deg: DataFrame,
                               rank: DataFrame,
                               copart: Boolean = false): DataFrame = {
    // deg is static O(nodes) — in broadcast mode ship it too, else the
    // rank⋈deg join sort-merges with TWO node-table exchanges per
    // iteration. In co-partition mode rank (HashPartitioning(node) from
    // last round's dst-agg, checkpoint-pinned) and deg (pinned on src)
    // are already co-distributed: no exchange on either side.
    val contrib = rank.join(side(copart, deg), rank("node") === deg("src"))
      .select(col("node").as("src"), expr("r div deg").as("c"))
    e.join(side(copart, contrib), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(col("c")).as("s"))
      .select(col("node"), expr("150000L + (85L * s) div 100L").as("r"))
  }

  private[queries] def initialRank(deg: DataFrame): DataFrame =
    deg.select(col("src").as("node"), lit(1000000L).as("r"))

  def pagerank: Q = (s, d) => pagerankWith(s, d, copartitionMode(s, d))

  /** PageRank at an explicit join geometry — `q_pagerank` resolves the
    * mode from conf/size; `q_pagerank_copart` pins the at-scale
    * co-partitioned path so it is HASH-GATED, not just spec-proven.
    */
  private[queries] def pagerankWith(s: SparkSession, d: String,
                                    copart: Boolean): DataFrame = {
    val (e, deg) = tradingGraph(s, d, copart)
    var rank = initialRank(deg)
    var i = 0
    while (i < Iters) {
      rank = iterate(e, deg, rank, copart).transform(graft.core.Checkpoint.apply)
      i += 1
    }
    rank.select(render(col("node")).as("node"), col("r"))
      .orderBy(col("r").desc, col("node").asc).limit(TopN)
      .select(col("node"), col("r").as("rank_micro"))
  }

  val pagerankSql: String = {
    // unrolled power iteration: r1..r5 each one join + one aggregate.
    // DuckDB `//` floors, Spark `div` truncates — identical on the
    // all-positive values here; sums go HUGEINT, hence the BIGINT casts.
    val iters = (1 to Iters).map { i =>
      s"""r$i AS (SELECT ed.dst AS node,
        |    CAST(150000 + (85 * sum(r.r // ed.deg)) // 100 AS BIGINT) AS r
        |  FROM ed JOIN r${i - 1} r ON ed.src = r.node GROUP BY ed.dst)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
      |ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
      |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
      |$iters
      |SELECT node, r AS rank_micro FROM r$Iters
      |ORDER BY r DESC, node LIMIT $TopN""".stripMargin
  }

  // -------------------------------------------------------- triangle count

  /** Global triangle census of the co-purchase graph (parts linked when
    * they appear in the same order): node/edge/wedge/triangle counts and
    * the global clustering coefficient in integer micro-units.
    *
    * SCALE — the edge-iterator-with-orientation algorithm (Schank &
    * Wagner 2005): every undirected edge is oriented from its lower
    * endpoint in the (degree, node) total order, which caps every node's
    * OUT-degree at O(√edges) (a node with out-degree t has t neighbors of
    * degree ≥ its own, so deg ≥ t and t² ≤ Σdeg = 2m). Regardless of
    * skew: a hub collects in-edges only and never enumerates its
    * neighbor pairs — the naive per-node form is quadratic in hub degree
    * and dies on any real (power-law) graph. Each triangle is counted
    * once at its base edge as a common out-neighbor of both endpoints
    * (`array_intersect` over the two ≤O(√m) adjacency arrays, inside the
    * scan stage), so the O(m^1.5) wedge stream never materializes as
    * rows. All counts are exact integers; the coefficient uses integer
    * `div` micro-units (the [[Num]] policy), so the single output row is
    * bit-stable at any parallelism.
    */
  def triangleCount: Q = (s, d) =>
    triangleCensus(coPurchaseEdges(s, d), copartitionMode(s, d))

  /** The census over any canonical (u < v, distinct) edge list — the
    * algorithm of [[triangleCount]], reusable and directly testable.
    */
  private[queries] def triangleCensus(e0: DataFrame,
                                      copart: Boolean = false): DataFrame = {
    val e = e0.transform(graft.core.Checkpoint.apply) // read 3x below
    val deg = e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .transform(graft.core.Checkpoint.apply)
    // degrees are O(nodes): broadcast onto the O(edges) side on small
    // graphs; at scale both orientation joins run co-partitioned (deg's
    // checkpoint pins HashPartitioning(n), alias-carried to u/v — only
    // the edge stream exchanges, once per key)
    val du = deg.select(col("n").as("u"), col("deg").as("du"))
    val dv = deg.select(col("n").as("v"), col("deg").as("dv"))
    val orientedRaw = e.join(side(copart, du), "u").join(side(copart, dv), "v")
      .select(when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("dv").as("td")))
        .otherwise(
          struct(col("v").as("s"), col("u").as("t"), col("du").as("td"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.td").as("td"))
    // co-partition mode: pin HashPartitioning(s) at the checkpoint so the
    // adjacency build (groupBy s) and the base-edge probe join both reuse
    // it — the one layout every downstream consumer wants
    val oriented = (if (copart) orientedRaw.repartition(col("s")) else orientedRaw)
      .transform(graft.core.Checkpoint.apply)
    // EDGE ITERATOR over adjacency arrays: a triangle a<b<c (orientation
    // order) is counted exactly once at its base edge (a, b) as a common
    // out-neighbor c of both endpoints. The per-node out-neighbor arrays
    // are O(√m) long by the orientation bound, so per-edge work is two
    // bounded array probes inside the scan stage — the O(m^1.5) wedge
    // stream of the join formulation never materializes as rows at all
    // (it cost 9.6s as a 20M-row self-join + close at sf0.1; this form
    // is ~6x cheaper). Adjacency TOTAL payload is O(edges) — each
    // oriented edge sits in exactly one array — so broadcasting it is a
    // small-graph luxury; co-partition mode shuffle-joins it on the node
    // key instead (edge stream exchanges once per probe key, adjacency
    // never concentrates anywhere).
    val adj = oriented.groupBy(col("s"))
      .agg(sort_array(collect_list(col("t"))).as("nbrs"))
    val tri = oriented
      .join(side(copart, adj.select(col("s").as("u"), col("nbrs").as("un"))),
        col("s") === col("u"))
      .join(side(copart, adj.select(col("s").as("v"), col("nbrs").as("vn"))),
        col("t") === col("v"), "left")
      .select(when(col("vn").isNull, lit(0))
        .otherwise(size(array_intersect(col("un"), col("vn")))).as("c"))
      .agg(sum(col("c")).as("n_triangles"))
    val eStats = e.agg(count(lit(1)).as("n_edges"))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    degStats.crossJoin(eStats).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("(3 * n_triangles * 1000000) div n_wedges").as("clustering_micro"))
  }

  val triangleCountSql: String =
    """WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
      |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
      |  FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
      |  GROUP BY n),
      |tri AS (SELECT count(*) AS t FROM e e1
      |  JOIN e e2 ON e2.u = e1.v
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
      |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
      |  (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
      |  CAST(t AS BIGINT) AS n_triangles,
      |  CAST((3 * t * 1000000) //
      |    (SELECT sum(deg * (deg - 1) // 2) FROM deg) AS BIGINT) AS clustering_micro
      |FROM tri""".stripMargin

  // --------------------------------------------- label propagation (LPA)

  private[queries] val LpaIters = 3
  private val LpaTop = 15

  /** Community detection by synchronous label propagation over the
    * co-purchase graph ([[triangleCount]]'s edge set): every node adopts
    * its neighbors' most frequent label each round, ties to the SMALLEST
    * label — the deterministic variant (random tie-breaks make LPA
    * non-reproducible, which no hash gate survives). Fixed 3 rounds,
    * matching the oracle's unrolled CTEs (the [[pagerank]] pattern).
    * Output: the 15 largest communities.
    *
    * SCALE per round: labels are O(nodes) — broadcast onto the
    * checkpointed O(edges) list on small graphs, co-partitioned with it
    * at scale (the [[copartitionMode]] switch; neither side exchanges
    * once edges are pinned on src) — then ONE partial-aggregated shuffle
    * for (node, label) counts and a second for the argmax. Label frequency counting is
    * integer; the (count desc, label asc) argmax is a total order —
    * bit-stable at any parallelism.
    */
  def labelPropagation: Q = (s, d) =>
    lpaCommunities(coPurchaseEdges(s, d), copartitionMode(s, d),
      lpaPartialAgg(s, d)).limit(LpaTop)

  /** The LPA round-shape dial (ADVICE r11): the one-shuffle round wins
    * while the raw edge⋈label stream is cheap to shuffle, but it forfeits
    * map-side partial counting — in LATE rounds labels converge (many
    * duplicate (dst, label) rows the partial agg would compress) and a
    * hot dst lands entirely in one task (AQE skew-split covers joins,
    * not aggregations). Above the input-size threshold the two-exchange
    * partial-agg round is the safe shape (threshold
    * `spark.graft.lpa.oneShuffleMaxInputBytes`, default 2 GiB); both forms
    * are the same logical computation (hash-gated identical results).
    */
  private[queries] def lpaPartialAgg(s: SparkSession, d: String): Boolean =
    graphInputBytes(s, d) > s.conf.get(
      "spark.graft.lpa.oneShuffleMaxInputBytes", (2L << 30).toString).toLong

  /** LPA over any canonical (u < v, distinct) edge list: community sizes,
    * largest first (label tie-break). Reusable + directly testable.
    */
  private[queries] def lpaCommunities(e0: DataFrame,
                                      copart: Boolean = false,
                                      partialAgg: Boolean = false): DataFrame = {
    val eRaw = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .select(col("u").as("src"), col("v").as("dst"))
    // co-partition mode: pin HashPartitioning(src) once; every round's
    // edges⋈labels join then exchanges NEITHER side (labels come out of
    // the dst-agg already hash-distributed on the node key)
    val e = (if (copart) eRaw.repartition(col("src")) else eRaw)
      .transform(graft.core.Checkpoint.apply)
    var labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    var i = 0
    while (i < LpaIters) {
      // argmax by (count desc, label asc) as a HASH AGGREGATE over
      // max(struct(cnt, -label)) — labels are positive, so max of the
      // negation picks the smallest label at equal count: the same total
      // order a row_number window gives, without the window's per-node
      // sort (two partial-aggregated hash shuffles per round instead of
      // an agg + sort-window pair; 2.3x on sf0.1)
      labels = lpaRound(e, labels, copart, partialAgg)
        .transform(graft.core.Checkpoint.apply)
      i += 1
    }
    labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("label").asc)
      .select(col("label").as("community"), col("n_members"))
  }

  /** One synchronous LPA round — package-visible so the plan spec can pin
    * its exchange count.
    *
    * ONE exchange per round, not two: hash(dst) co-locates every row of a
    * (dst, label) group AND every row of a dst group, so pinning the
    * partitioning once up front satisfies both group-bys
    * (HashPartitioning(dst) ⊆ both clusterings) — the count agg and the
    * argmax then run back-to-back in a single post-shuffle stage. The
    * two-exchange form bought map-side partial counts, but in the early
    * rounds labels are near-distinct per edge, so the "partial" stream
    * was ~the raw stream and the second exchange was pure cost (measured
    * r11: q_label_propagation 6.8→4.7 s, q_lpa_copart 6.9→4.5 s at
    * sf0.1/32 cores).
    */
  private[queries] def lpaRound(e: DataFrame, labels: DataFrame,
                                copart: Boolean,
                                partialAgg: Boolean = false): DataFrame = {
    val joined = e.join(side(copart, labels), col("src") === col("node"))
    // partialAgg (the at-scale shape, [[lpaPartialAgg]]): skip the
    // up-front repartition so the (dst, label) count keeps its map-side
    // partial aggregation — two exchanges, but converged-label rounds
    // compress before the shuffle and hot dst nodes spread over labels
    val counted =
      (if (partialAgg) joined else joined.repartition(col("dst")))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
    counted
      .groupBy(col("dst"))
      .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("m"))
      .select(col("dst").as("node"), (-col("m.neg")).as("label"))
  }

  val labelPropagationSql: String = {
    val iters = (1 to LpaIters).map { i =>
      s"""c$i AS (SELECT ed.dst, l.label, count(*) AS cnt
        |  FROM ed JOIN l${i - 1} l ON ed.src = l.node GROUP BY 1, 2),
        |l$i AS (SELECT dst AS node, label FROM
        |  (SELECT dst, label, row_number() OVER
        |     (PARTITION BY dst ORDER BY cnt DESC, label ASC) AS rn FROM c$i)
        |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
      |ed AS (SELECT u AS src, v AS dst FROM e0
      |  UNION ALL SELECT v AS src, u AS dst FROM e0),
      |l0 AS (SELECT DISTINCT src AS node, src AS label FROM ed),
      |$iters
      |SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
      |FROM l$LpaIters GROUP BY label
      |ORDER BY n_members DESC, community ASC LIMIT $LpaTop""".stripMargin
  }

  /** Co-purchase edge list shared by the census and LPA gates. */
  private[queries] def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val lp = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    lp.as("a").join(lp.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
  }

  /** Breadth-first levels from a seed set (every customer with
    * custkey % 100 == 0): minimum hop distance over the trading graph,
    * bounded at [[BfsDepth]] hops, reported as per-level census rows
    * (side-split counts + raw-key checksum pin the exact membership).
    *
    * SCALE — frontier-at-a-time expansion, the Pregel/GraphX BFS shape:
    * each round joins the CURRENT FRONTIER (strictly shrinking, node-
    * sized) against the edge list and anti-joins the visited set, so a
    * round's cost is O(edges touched by the frontier), never O(nodes²).
    * Same geometry dial as the rest of the trio: frontier/visited
    * broadcast below the size threshold, co-partitioned with the
    * src-pinned edge checkpoint above it. Rounds are bounded by depth
    * (the unrolled-CTE oracle is bounded identically — a recursive
    * all-paths CTE would be combinatorial on a bipartite graph whose
    * suppliers have thousands of neighbors).
    */
  private val BfsDepth = 4

  def bfsLevels: Q = (s, d) => bfsLevelsWith(s, d, copartitionMode(s, d))

  private[queries] def bfsLevelsWith(s: SparkSession, d: String,
                                     copart: Boolean): DataFrame = {
    val (e, deg) = tradingGraph(s, d, copart)
    val seeds = deg.filter(col("src") % 2 === 0 && (col("src") / 2) % 100 === 0)
      .select(col("src").as("node"), lit(0).as("lvl"))
      .transform(graft.core.Checkpoint.apply)
    var levels = seeds
    var frontier = seeds
    for (k <- 1 to BfsDepth) {
      val reached = e.join(side(copart, frontier.select(col("node").as("src"))), "src")
        .select(col("dst").as("node")).distinct()
      frontier = reached.join(side(copart, levels.select("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(k).as("lvl"))
        .transform(graft.core.Checkpoint.apply)
      // levels is a UNION of already-checkpointed frontiers: lineage depth
      // stays O(depth) without re-materializing the whole O(nodes) union
      // every round (4 checkpoint jobs saved; members are cached blocks)
      levels = levels.unionByName(frontier)
    }
    levels.groupBy(col("lvl"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(col("node") % 2 === 0, 1L).otherwise(0L)).as("n_customers"),
        sum(when(col("node") % 2 === 0, expr("node div 2"))
          .otherwise(expr("(node - 1) div 2"))).as("key_checksum"))
      .filter(col("n_nodes") > 0)
      .orderBy(col("lvl"))
  }

  private val bfsLevelsSql: String = {
    val lvls = (1 to BfsDepth).map { k =>
      val seen = (0 until k).map(i => s"SELECT node FROM l$i").mkString(" UNION ALL ")
      s"""l$k AS (SELECT DISTINCT e.dst AS node FROM edges e
        |  JOIN l${k - 1} f ON e.src = f.node
        |  WHERE e.dst NOT IN ($seen))""".stripMargin
    }.mkString(",\n")
    val union = (0 to BfsDepth)
      .map(k => s"SELECT node, $k AS lvl FROM l$k").mkString(" UNION ALL ")
    s"""WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |l0 AS (SELECT DISTINCT src AS node FROM edges
      |  WHERE src LIKE 'c%' AND CAST(substr(src, 2) AS BIGINT) % 100 = 0),
      |$lvls
      |SELECT lvl, count(*) AS n_nodes,
      |  CAST(sum(CASE WHEN node LIKE 'c%' THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
      |  CAST(sum(CAST(substr(node, 2) AS BIGINT)) AS BIGINT) AS key_checksum
      |FROM ($union) GROUP BY lvl HAVING count(*) > 0 ORDER BY lvl""".stripMargin
  }

  // --------------------------------------------- weighted shortest paths

  /** Bounded Bellman-Ford rounds — parity with the unrolled oracle. */
  private[queries] val SsspRounds = 4

  /** The trading graph with an integer edge weight derived from the raw
    * business keys (`1 + (custkey + suppkey) % 7`, symmetric by
    * construction) — deterministic, computable identically by the oracle,
    * and varied enough that weighted distances genuinely diverge from hop
    * counts ([[bfsLevels]]).
    */
  private[queries] def weightedTradingEdges(s: SparkSession, d: String,
                                   copart: Boolean): DataFrame = {
    val e0 = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"),
        (lit(1L) + (col("o_custkey") + col("l_suppkey")) % 7).as("w"))
      .distinct()
    val edges = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    (if (copart) edges.repartition(col("src")) else edges)
      .transform(graft.core.Checkpoint.apply)
  }

  /** Multi-source weighted shortest paths (Bellman-Ford, [[SsspRounds]]
    * relaxation rounds ≡ exact min over ≤4-edge paths) from the same seed
    * set as [[bfsLevels]], reported as a per-distance census (counts +
    * raw-key checksum pin exact membership, ≤29 rows: dist ≤ rounds × max
    * weight).
    *
    * SCALE — frontier-relaxation, the delta-stepping skeleton: each round
    * relaxes only edges OUT OF NODES THAT IMPROVED last round (the
    * frontier), so a settled region costs nothing; candidate distances
    * pre-aggregate per dst (partial min, map-side) before touching the
    * distance table. Frontier/distance tables are node-sized — broadcast
    * below the size threshold, co-partitioned with the src-pinned edge
    * checkpoint above it ([[copartitionMode]]). All-integer distances:
    * bit-stable at any parallelism, unrolled-CTE oracle matches exactly.
    * The full-table relaxation the oracle uses is round-equivalent
    * (both compute min over ≤k-edge paths after round k); the frontier
    * form is the one you run at scale.
    */
  def shortestPaths: Q = (s, d) => shortestPathsWith(s, d, copartitionMode(s, d))

  private[queries] def shortestPathsWith(s: SparkSession, d: String,
                                         copart: Boolean): DataFrame = {
    val e = weightedTradingEdges(s, d, copart)
    val seeds = e.select(col("src")).distinct()
      .filter(col("src") % 2 === 0 && (col("src") / 2) % 100 === 0)
      .select(col("src").as("node"), lit(0L).as("dist"))
      .transform(graft.core.Checkpoint.apply)
    var dist = seeds
    var frontier = seeds
    for (_ <- 1 to SsspRounds) {
      // per-dst partial min BEFORE joining the distance table: the
      // candidate stream shrinks to node grain inside the shuffle
      val cand = e.join(side(copart,
          frontier.select(col("node").as("src"), col("dist").as("fd"))), "src")
        .groupBy(col("dst").as("node"))
        .agg(min(col("fd") + col("w")).as("cd"))
      val improved = cand
        .join(side(copart, dist.select(col("node"), col("dist").as("old"))),
          Seq("node"), "left_outer")
        .filter(col("old").isNull || col("cd") < col("old"))
        .select(col("node"), col("cd").as("dist"))
        .transform(graft.core.Checkpoint.apply)
      dist = dist.unionByName(improved)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .transform(graft.core.Checkpoint.apply)
      frontier = improved
    }
    dist.groupBy(col("dist"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(col("node") % 2 === 0, 1L).otherwise(0L)).as("n_customers"),
        sum(when(col("node") % 2 === 0, expr("node div 2"))
          .otherwise(expr("(node - 1) div 2"))).as("key_checksum"))
      .orderBy(col("dist"))
  }

  private val shortestPathsSql: String = {
    val rounds = (1 to SsspRounds).map { k =>
      s"""d$k AS (SELECT node, min(dist) AS dist FROM (
        |    SELECT node, dist FROM d${k - 1}
        |    UNION ALL
        |    SELECT e.dst AS node, d.dist + e.w AS dist
        |    FROM d${k - 1} d JOIN edges e ON e.src = d.node
        |  ) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
      |    CAST(1 + (o_custkey + l_suppkey) % 7 AS BIGINT) AS w
      |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst, w FROM e0 UNION SELECT dst, src, w FROM e0),
      |d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist FROM edges
      |  WHERE src LIKE 'c%' AND CAST(substr(src, 2) AS BIGINT) % 100 = 0),
      |$rounds
      |SELECT dist, count(*) AS n_nodes,
      |  CAST(sum(CASE WHEN node LIKE 'c%' THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
      |  CAST(sum(CAST(substr(node, 2) AS BIGINT)) AS BIGINT) AS key_checksum
      |FROM d$SsspRounds GROUP BY dist ORDER BY dist""".stripMargin
  }

  // ------------------------------------------------------ k-core peeling

  /** Minimum degree to survive a peel round, and the fixed round count
    * (parity with the unrolled oracle). Full k-core decomposition iterates
    * to fixpoint; bounded rounds keep the oracle finite and already
    * converge on this graph's shape (the last round's removal set is the
    * gate's own evidence — `n_nodes` per degree bin shifts if round 3
    * still peeled anyone a 4th round would).
    */
  private[queries] val CoreK = 3
  private[queries] val PeelRounds = 3

  def kcore: Q = (s, d) => kcoreWith(s, d, copartitionMode(s, d))

  /** Bounded K-CORE PEELING over the trading graph: each round drops
    * nodes with degree < K and every edge touching them, then recomputes
    * degrees — the standard subgraph-density screen (spam/bot subgraph
    * mining, community pre-filter) and the third member of the iterative
    * trio alongside pagerank (value iteration) and LPA (label iteration).
    * Output is the degree HISTOGRAM of the peeled graph with per-bin node
    * counts and key checksums — sensitive to any node wrongly kept or
    * dropped in any round.
    *
    * SCALE: per round, one partial-aggregated degree count (O(nodes) out)
    * + two joins of the edge list against the O(nodes) keep-set — same
    * geometry switch as the rest of the family: broadcast keep-set on
    * small graphs, co-partitioned equi-joins at scale. Edges only ever
    * shrink, so round cost is monotonically decreasing; checkpoints
    * truncate the per-round lineage growth.
    */
  private[queries] def kcoreWith(s: SparkSession, d: String,
                                 copart: Boolean): DataFrame = {
    val (e0, _) = tradingGraph(s, d, copart)
    peelEdges(e0, copart)
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(col("src") % 2 === 0, 1L).otherwise(0L)).as("n_customers"),
        sum(when(col("src") % 2 === 0, expr("src div 2"))
          .otherwise(expr("(src - 1) div 2"))).as("key_checksum"))
      .orderBy(col("deg"))
  }

  /** The peel loop itself over a both-direction (src, dst) edge list —
    * factored so specs can feed known graphs under either geometry.
    */
  private[queries] def peelEdges(e0: DataFrame, copart: Boolean): DataFrame = {
    var e = e0
    for (_ <- 1 to PeelRounds)
      e = peelRound(e, copart, ckptKeep = true)
        .transform(graft.core.Checkpoint.apply)
    e
  }

  /** One peel round. `ckptKeep` materializes the keep-set once for its two
    * join uses (the production path); specs pass false to keep the full
    * round visible in one plan.
    */
  private[queries] def peelRound(e: DataFrame, copart: Boolean,
                                 ckptKeep: Boolean = false): DataFrame = {
    val keep0 = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= CoreK).select(col("src"))
    val keep = if (ckptKeep) keep0.transform(graft.core.Checkpoint.apply) else keep0
    e.join(side(copart, keep), Seq("src"))
      .join(side(copart, keep.select(col("src").as("dst"))), Seq("dst"))
      .select(col("src"), col("dst"))
  }

  private val kcoreSql: String = {
    val rounds = (1 to PeelRounds).map { r =>
      s"""keep$r AS (SELECT src FROM edges${r - 1} GROUP BY src
        |  HAVING count(*) >= $CoreK),
        |edges$r AS (SELECT e.src, e.dst FROM edges${r - 1} e
        |  JOIN keep$r a ON e.src = a.src
        |  JOIN keep$r b ON e.dst = b.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges0 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |$rounds,
      |deg AS (SELECT src, count(*) AS deg FROM edges$PeelRounds GROUP BY src)
      |SELECT CAST(deg AS BIGINT) AS deg, count(*) AS n_nodes,
      |  CAST(sum(CASE WHEN src LIKE 'c%' THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
      |  CAST(sum(CAST(substr(src, 2) AS BIGINT)) AS BIGINT) AS key_checksum
      |FROM deg GROUP BY deg ORDER BY deg""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q_kcore" -> kcore,
    "q_pagerank" -> pagerank,
    "q_triangle_count" -> triangleCount,
    "q_label_propagation" -> labelPropagation,
    "q_bfs_levels" -> bfsLevels,
    "q_shortest_paths" -> shortestPaths,
    "q_sssp_copart" -> ((s, d) => shortestPathsWith(s, d, copart = true)),
    // the AT-SCALE geometry hash-gated against the same oracles: identical
    // results are the whole point of the mode switch
    "q_pagerank_copart" -> ((s, d) => pagerankWith(s, d, copart = true)),
    "q_triangle_copart" ->
      ((s, d) => triangleCensus(coPurchaseEdges(s, d), copart = true)),
    "q_lpa_copart" ->
      ((s, d) => lpaCommunities(coPurchaseEdges(s, d), copart = true,
        partialAgg = lpaPartialAgg(s, d)).limit(LpaTop)),
  )

  val oracles: Map[String, String] = Map(
    "q_kcore" -> kcoreSql,
    "q_pagerank" -> pagerankSql,
    "q_bfs_levels" -> bfsLevelsSql,
    "q_shortest_paths" -> shortestPathsSql,
    "q_sssp_copart" -> shortestPathsSql,
    "q_triangle_count" -> triangleCountSql,
    "q_label_propagation" -> labelPropagationSql,
    "q_pagerank_copart" -> pagerankSql,
    "q_triangle_copart" -> triangleCountSql,
    "q_lpa_copart" -> labelPropagationSql,
  )
}
