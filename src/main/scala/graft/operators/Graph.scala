package graft.operators

import graft.{Materialize, Parity, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the part↔supplier bipartite graph derived from
  * lineitem's distinct (l_partkey, l_suppkey) pairs — the relational
  * stand-in for a web-link or citation graph in a training-data
  * pipeline (e.g. harmonic/PageRank quality weights for crawl corpora).
  *
  * Both operators materialize the edge list once (`localCheckpoint`;
  * on a real cluster this becomes a reliable checkpoint or a persisted
  * table) and never collect edge data to the driver — the only driver
  * scalar is the node count.
  *
  * Scale posture: PageRank iterations are shuffle aggregations on the
  * destination key with map-side partial sums; each iteration's state
  * is one (node, rank) row per node. At 100 TB the same loop holds —
  * edges partition by dst, rank state is O(|V|), and skewed hub nodes
  * are handled by AQE skew-split on the contribution aggregation.
  * Float parity: per-node contribution sums are order-dependent in the
  * last ulp (~1e-15 abs at these magnitudes); ranks are rounded at
  * 1e-8 on both engines, 7 orders of magnitude above the drift.
  */
object Graph {
  import Tables._

  /** Distinct part↔supplier pairs as a symmetric directed edge list;
    * nodes are namespaced so the two key spaces can't collide.
    * Materialized once per source content through the write-once cache
    * (graft.Caches): deriving an edge list from a fact table is a
    * scan + distinct over the whole corpus, and every graph operator
    * starts from it — at scale this IS the persisted edge table every
    * graph pipeline keeps next to the facts.
    *
    * ID-SPACE since round 15 (the PPJoin shingle-id precedent, applied
    * after graph_pagerank ENOSPC'd at sf100 on ~1.1 B string edges):
    * nodes are LONGS — part k ↦ 2k, supplier k ↦ 2k+1 (a bijection,
    * no hashing, so no collision caveat at all) — and the 'p…'/'s…'
    * strings are reconstructed only at each operator's output boundary
    * ([[nodeStr]]). Every shuffle in the tier (degree aggs, the
    * per-iteration contribution/label joins, distinct) ships 8-byte
    * ids instead of ~16-char strings, ~3× less volume, and every
    * oracle is UNTOUCHED: the outputs are byte-identical strings, and
    * DuckDB recomputes its own edges from lineitem either way. */
  private def bipartiteEdgesStore(spark: SparkSession, dir: String): String =
    graft.Caches.once(spark, "graphedgesid_v1", dir, Seq("lineitem")) { out =>
      val pairs = lineitem(spark, dir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val p = (col("l_partkey") * 2).cast("long")
      val s = (col("l_suppkey") * 2 + 1).cast("long")
      pairs.select(p.as("src"), s.as("dst"))
        .unionByName(pairs.select(s.as("src"), p.as("dst")))
        .write.parquet(out)
    }

  private def bipartiteEdges(spark: SparkSession, dir: String): DataFrame =
    read(spark, bipartiteEdgesStore(spark, dir))

  /** Node id → the namespaced string every output/oracle speaks:
    * even ↦ "p"+(id/2), odd ↦ "s"+(id/2) (shiftright floors both). */
  private def nodeStr(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(when(c % 2 === 0, lit("p")).otherwise(lit("s")),
      shiftright(c, 1).cast("string"))

  /** FIXED-WIDTH encoding of [[nodeStr]]'s LEXICOGRAPHIC order, for
    * aggregation buffers, packed into ONE DECIMAL(38,0):
    * code = side·10²⁰ + mag·100 + len with mag = digits·10^(18−len).
    *
    * Order proof, component by component: 'p' < 's' is the parity
    * (side); decimal strings without leading zeros compare
    * lexicographically as left-aligned magnitudes ("10" < "2" ⇔
    * 1.0e17 < 2.0e17), with the shorter string winning pure-prefix
    * ties ("2" < "20" — equal magnitudes, len breaks); for la<lb,
    * split vb = prefix·10^(lb−la) + rest (rest < 10^(lb−la)):
    * scaling both by their 10^(18−len) aligns va against prefix and
    * the rest term is strictly below one unit of the prefix's scale,
    * so the comparison reduces to va vs prefix — the lexicographic
    * rule. Packing proof: mag < 10¹⁸ ⇒ mag·100 + len < 10²⁰, so the
    * side term separates; within a side, len ≤ 18 < 100 = one mag
    * unit, so (mag, len) compare lexicographically. 10^k is exact in
    * a double for k ≤ 18, ids stay < 9.3e17, and the decimal
    * arithmetic is exact — the code is a bijective order-embedding.
    *
    * WHY one decimal and not the r15 struct (round 18, the PlanAudit
    * catch): Spark's hash aggregate requires every aggregation-buffer
    * field to be an UnsafeRow-MUTABLE type. A struct is not — so the
    * r15 `min_by(…, struct(side, mag, len))` silently planned
    * SortAggregate on BOTH rounds of graph_communities: an external
    * sort of the full (node, label) stream per round, the exact r13
    * min-over-STRING scale killer the encoding was built to avoid
    * (~26 GB of sort spill per iteration at sf100). DecimalType IS
    * UnsafeRow-mutable at every precision (the agg_decimal_sum /
    * dedup_clusters Σ-probe precedent), so the packed form restores
    * the map-side-combinable HashAggregate the r15 comment promised.
    * Same winner ⇒ oracle untouched. */
  private def nodeOrdDec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val k = shiftright(c, 1)
    val len = length(k.cast("string"))
    val mag = k * pow(lit(10.0), lit(18) - len).cast("long")
    (c % 2).cast(dec) * lit(new java.math.BigDecimal(10).pow(20)) +
      mag.cast(dec) * lit(100L).cast(dec) + len.cast(dec)
  }

  /** The shared edge relation, materialized for multi-consumer
    * operators (pagerank's 3 iterations, communities' 2, the recursive
    * frontier): checkpointed when the edge store is Small, else its
    * compressed parquet is re-scanned ([[Materialize]]). */
  private def edgesMaterialized(spark: SparkSession, dir: String): DataFrame = {
    val base = bipartiteEdgesStore(spark, dir)
    val e = read(spark, base)
    if (Materialize.bytes(spark, "edges", base, Materialize.GraphLimit) == Materialize.Small)
      e.localCheckpoint()
    else e
  }

  /** One PageRank iteration: dst-keyed contribution aggregation
    * (map-side partial sums), then the damped update over all nodes.
    * Exposed for plan assertions — the registered query builds on a
    * checkpointed edge list, so its own plan bottoms out in a
    * materialized-RDD scan rather than the shapes worth asserting. */
  private[graft] def pagerankStep(
      nodes: DataFrame, edgesDeg: DataFrame, ranks: DataFrame, n: Double): DataFrame = {
    // SHUFFLE_HASH on the rank side (round 15): O(|V|) rank rows
    // against O(|E|) edges — sort-merge sorts the edge stream every
    // iteration (3× per query); hash-building the rank side skips
    // both sorts and the dst-keyed hash agg after never needed order.
    val contrib = edgesDeg
      .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(col("pr") / col("outdeg")).as("in_pr"))
    nodes.join(contrib, Seq("node"), "left")
      .select(col("node"),
        (lit(0.15 / n) + lit(0.85) * coalesce(col("in_pr"), lit(0.0))).as("pr"))
  }

  private[graft] def pagerankParts(edges: DataFrame): (DataFrame, DataFrame) = {
    val deg = edges.groupBy(col("src"))
      .agg(count(lit(1)).cast("double").as("outdeg"))
    // deg is O(|V|) vs O(|E|) edges, and the degree join re-executes
    // inside every iteration's lineage — hash-build the small side.
    (edges.join(deg.hint("shuffle_hash"), "src"),
      edges.select(col("src").as("node")).distinct())
  }

  private[graft] def pagerankParts(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    pagerankParts(bipartiteEdges(spark, dir))

  /** PageRank, damping 0.85, uniform init, 3 fixed iterations (fixed
    * so the DuckDB oracle can unroll the recurrence as CTEs). Top 50
    * by rounded rank with node-id tiebreak. */
  private def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint ONLY the shared edge list (the scan + distinct is the
    // expensive lineage); the derived deg-join and node-distinct are
    // cheap enough to recompute lazily from it each iteration —
    // checkpointing them too bought nothing (2.9 s either way, warm,
    // sf0.1) and cost two materialization jobs. The 3 fixed iterations
    // chain lazily: per-iteration rank checkpoints only pay off when
    // iteration count is unbounded (see dedup_clusters, which
    // checkpoints because it must converge). Measured warm at sf0.1:
    // 5.7 s per-iteration checkpoints → 2.8 s this form.
    val (edgesDeg, nodes) = pagerankParts(edgesMaterialized(spark, dir))
    val n = nodes.count().toDouble
    var ranks = nodes.withColumn("pr", lit(1.0 / n))
    for (_ <- 1 to 3)
      ranks = pagerankStep(nodes, edgesDeg, ranks, n)
    // string boundary: ranks/ties must order by the SAME node strings
    // the oracle emits, so reconstruct before the final sort
    ranks.select(nodeStr(col("node")).as("node"), Parity.r8(col("pr")).as("pagerank"))
      .orderBy(col("pagerank").desc, col("node")).limit(50)
  }

  /** Bounded-depth reachability via SQL `WITH RECURSIVE` (Spark 4's
    * UnionLoop operator): BFS frontier from one part node, two hops,
    * min hop count per reached node. Exercises the recursive-CTE SQL
    * surface end-to-end against DuckDB's identical construct — the
    * declarative alternative to the hand-rolled iteration in
    * [[graphPagerank]] when depth is small and fixed. (For unbounded
    * diameters use the checkpointed loop instead: recursion depth is
    * plan depth here.) */
  private def graphReachability(spark: SparkSession, dir: String): DataFrame = {
    // materialize the edge list before recursing: the view is consulted
    // on every UnionLoop iteration, and an un-checkpointed view would
    // re-run the scan + distinct + union each time
    edgesMaterialized(spark, dir)
      .createOrReplaceTempView("graft_graph_edges")
    // seed 'p1' = id 2 in the 2k/2k+1 node-id space; the recursion runs
    // on 8-byte ids and the output boundary reconstructs the strings
    spark.sql(
      """WITH RECURSIVE reach(node, hops) AS (
        |  SELECT CAST(2 AS BIGINT), 0
        |  UNION ALL
        |  SELECT e.dst, r.hops + 1
        |  FROM reach r JOIN graft_graph_edges e ON e.src = r.node
        |  WHERE r.hops < 2)
        |SELECT concat(CASE WHEN node % 2 = 0 THEN 'p' ELSE 's' END,
        |              CAST(shiftright(node, 1) AS STRING)) AS node,
        |       CAST(min(hops) AS BIGINT) AS hops
        |FROM reach GROUP BY 1 ORDER BY hops, node""".stripMargin)
  }

  /** Degree histogram per side of the bipartite graph — the standard
    * first look at any graph's shape (and the skew estimate that
    * decides whether PageRank's contribution agg needs salting). */
  private def graphDegree(spark: SparkSession, dir: String): DataFrame = {
    val deg = bipartiteEdges(spark, dir)
      .groupBy(col("src")).agg(count(lit(1)).as("degree"))
    deg.select(when(col("src") % 2 === 0, lit("p")).otherwise(lit("s")).as("side"),
        col("degree"))
      .groupBy(col("side"), col("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("side"), col("degree"))
  }

  /** A shared graph relation derived from `dir`'s lineitem, materialized
    * once for its consumers ([[Materialize]]): checkpointed when `dir` is
    * Small, else PERSISTED as write-once content-addressed parquet
    * through [[graft.Caches.once]], whose `_vN` contract `kind` follows.
    * The Large side does not fall back to re-deriving the relation
    * (round 17, r16 VERDICT task 2): at sf100 re-deriving the projection
    * lineage under each consumer ran more CONCURRENT shuffle stages than
    * the box's scratch holds and hit ENOSPC, while one persisted copy
    * caps each consumer's lineage at one parquet scan. On a cluster these
    * ARE the persisted co-purchase / oriented-edge tables a graph
    * pipeline keeps beside the facts. Shared by [[graphTriangles]],
    * [[graphKcore]] and [[graphCopurchaseLift]] (round 18);
    * `BranchParitySpec` runs both sides. Bump the kind's `_vN` with any
    * change to the relation it names. */
  private def matGraphRel(spark: SparkSession, dir: String, kind: String)(
      df: => DataFrame): DataFrame =
    if (Materialize.bytes(spark, "matGraphRel", dir, Materialize.GraphLimit) == Materialize.Small)
      df.localCheckpoint()
    else read(spark, graft.Caches.once(spark, kind, dir, Seq("lineitem"))(df.write.parquet(_)))

  /** The deterministically order-SAMPLED part co-purchase projection
    * (u < v part pairs sharing an order, 1/4 of orders kept by md5) —
    * the one-mode market-basket graph both [[graphTriangles]] and
    * [[graphKcore]] decompose; materialized once per source content
    * through [[matGraphRel]] (degree counting, orientation AND the
    * peel all consume it, and its lineage — sampled scan → self-join
    * → distinct — is the expensive part of every consumer). */
  private def copurchasePairs(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
      .filter(conv(substring(md5(concat(lit("tri:"), col("l_orderkey").cast("string"))),
        1, 8), 16, 10).cast("long") % 4 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    matGraphRel(spark, dir, "tripairs_v1")(
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct())
  }

  /** Triangle counting + local clustering coefficient on the part
    * CO-PURCHASE graph (parts sharing an order — the bipartite graph
    * above is triangle-free by construction, so this derives the
    * classic one-mode projection market-basket graph instead). A
    * deterministic md5 order-sample (keep 1/4) bounds the projection
    * the way a real pipeline bounds a dense co-occurrence graph.
    *
    * Algorithm: DEGREE-ORIENTED wedge join (Chiba–Nishizeki / the
    * standard distributed formulation): orient every undirected edge
    * from its lower (degree, id) endpoint to the higher; wedges are the
    * self-join of oriented edges on their source with canonically
    * ordered tips; a wedge closes iff its tip pair is itself an
    * oriented edge. Orientation caps out-degree at O(√m) on ANY graph,
    * so wedge count is Σ outdeg² ≤ m^1.5 — never the Σ deg² of the
    * naive form where one hub explodes the join. All three hops are
    * keyed equi-joins (shuffle on node / tip pair); no windows, no
    * cartesian. Per-node counts credit each triangle to its 3 corners
    * via a 3-way union + hash-agg. Everything is exact integer work +
    * one rounded division ⇒ oracle-checked. */
  private def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val pairs = copurchasePairs(spark, dir)
    val deg = pairs.select(col("u").as("node"))
      .unionByName(pairs.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = pairs
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val uLower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // materialize the oriented edge list ONCE: three consumers (both
    // wedge sides + the closure probe) would each re-run the
    // sample → self-join → distinct → degree-join lineage otherwise
    val oriented = matGraphRel(spark, dir, "trioriented_v1")(withDeg.select(
      when(uLower, col("u")).otherwise(col("v")).as("src"),
      when(uLower, col("v")).otherwise(col("u")).as("dst"),
      when(uLower, col("dv")).otherwise(col("du")).as("ddst")))
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") &&
          (col("x.ddst") < col("y.ddst") ||
            (col("x.ddst") === col("y.ddst") && col("x.dst") < col("y.dst"))))
      .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
    val tri = wedges.join(
      oriented.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
    val perNode = tri.select(col("a").as("node"))
      .unionByName(tri.select(col("b").as("node")))
      .unionByName(tri.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    perNode.join(deg, "node")
      .select(col("node").cast("long").as("part"), col("deg").as("degree"),
        col("triangles"),
        Parity.r6(lit(2.0) * col("triangles")
          / (col("deg") * (col("deg") - 1)).cast("double")).as("clustering"))
      .orderBy(col("triangles").desc, col("part")).limit(20)
  }

  /** k-CORE peel (k = 2, 3 unrolled rounds) over the same sampled
    * co-purchase projection as [[graphTriangles]] — the standard
    * degeneracy prune a graph pipeline runs BEFORE triangle-heavy
    * work at scale (a node outside the 2-core is in no triangle at
    * all), reusing the shared materialized projection
    * ([[copurchasePairs]]). Bounded-iteration semantics, the
    * pagerank/communities precedent: each round recounts degrees in
    * the subgraph induced by the previous round's survivors and drops
    * nodes below k, so round r's survivors over-approximate the true
    * k-core from above and the DuckDB oracle unrolls the identical
    * rounds as CTEs (no fixpoint, no recursion — peeling is a
    * whole-relation recomputation per round, which recursive CTE
    * bag-union semantics cannot express).
    *
    * Scale: per round, two keyed equi-joins of the O(|E|) adjacency
    * against the O(|V|) survivor set (hash-build the survivor side —
    * the pagerank shuffle_hash rationale) + one map-side-combinable
    * degree hash-agg; survivor state is one (node, deg) row per live
    * node, monotonically shrinking. No windows, no driver state. At
    * 100 TB the peel is R passes over a bucketed edge table — the
    * posture every distributed k-core implementation takes. */
  private def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    val pairs = copurchasePairs(spark, dir)
    val adj = pairs.select(col("u").as("a"), col("v").as("b"))
      .unionByName(pairs.select(col("v").as("a"), col("u").as("b")))
    // round 1's induced subgraph is the full graph, so the first
    // restriction joins are the identity — start from the plain
    // degree count + threshold, and unroll the general round twice.
    // Per-round checkpoint on the Large side only (round 19): the round
    // body references `live` TWICE (the a-side and b-side induced-subgraph
    // restrictions), and Spark has no DAG-level CSE, so the lazy form
    // re-derives round r−1's whole lineage under BOTH join legs —
    // subtree count DOUBLING per unrolled round (the lazy plan carries
    // round-0's degree agg four times; 222 plan lines). On the Small
    // side the duplicated legs pipeline in parallel on idle cores and
    // the checkpoint barrier measurably LOSES
    // (adjacent A/B at sf0.1/32, equal canaries 12.6 s: lazy 2.99 s
    // warm-min vs checkpointed 3.29 — the graphPagerank/
    // verifiedPairsOf lesson), so bench/gate SFs stay lazy and impl
    // fingerprints are unaffected. On the Large side the duplicated
    // work is 3 extra O(|E|) restriction joins per round over an
    // adjacency that no longer fits page cache — there the O(|V|)
    // (node, deg) survivor checkpoint (tiny at any SF) caps each
    // round's lineage at one pass, the cluster-honest posture.
    val branch = Materialize.bytes(spark, "kcore", dir, Materialize.GraphLimit)
    def matLive(df: DataFrame): DataFrame =
      if (branch == Materialize.Large) df.localCheckpoint() else df
    var live = matLive(adj.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2))
    for (_ <- 1 to 2) {
      live = matLive(adj
        .join(live.select(col("node").as("a")).hint("shuffle_hash"), "a")
        .join(live.select(col("node").as("b")).hint("shuffle_hash"), "b")
        .groupBy(col("a").as("node"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2))
    }
    live.select(col("node").cast("long").as("part"), col("deg").as("coredeg"))
      .orderBy(col("coredeg").desc, col("part")).limit(50)
  }

  /** Community detection via synchronous label propagation, 2 fixed
    * iterations (fixed ⇒ the oracle unrolls them as CTEs, exactly like
    * [[graphPagerank]]): every node starts as its own label; each step
    * takes the MODE of its neighbors' labels (ties → lexicographically
    * smallest). A different iterative-aggregation shape than PageRank:
    * the combiner is arg-max-count (hash-agg on (node, label) with
    * map-side combine, then a node-partitioned row_number), not a sum
    * — the pattern for any vote-based propagation (community, error
    * correction, majority gossip).
    *
    * Scale: per iteration one shuffle on the (node, label) count agg +
    * one node-partitioned window; label state is one row per node.
    * Deterministic throughout ⇒ oracle-checked. */
  private def graphCommunities(spark: SparkSession, dir: String): DataFrame = {
    val edges = edgesMaterialized(spark, dir)
    // ROUND 1 IS ALGEBRAICALLY A MIN (round 15): initial labels are
    // the identity, and the edge list is DISTINCT pairs, so every
    // neighbor label reaches a node with count exactly 1 — the mode
    // with lexicographically-smallest tie-break IS the
    // lexicographically smallest neighbor. That collapses the first
    // iteration's (node, label) count shuffle (1.1 B rows at sf100)
    // into one min_by whose map-side partials combine down to one row
    // per (mapper, node). The oracle still unrolls the generic mode
    // CTE for both rounds — identical result by the identity above.
    var labels = edges.groupBy(col("dst").as("node"))
      .agg(min_by(col("src"), nodeOrdDec(col("src"))).as("lbl"))
    // Round 2, the general form (1 general round here; bump the range
    // to add more — only round 1 admits the identity above):
    for (_ <- 1 to 1) {
      // The per-node mode is an ARGMAX, not a ranking: min_by over
      // (−count, label-order) replaces the round-14 row_number window.
      // Labels propagate as ids, but the tie-break is still defined
      // on the node STRINGS (lexicographically smallest, what the
      // oracle computes). Round 18: the ordering packs into ONE
      // DECIMAL(38,0) — nc·10²¹ + nodeOrdDec(lbl); nodeOrdDec < 10²¹
      // = one count unit, so (−count, label-order) compare
      // lexicographically — because the r15 struct ordering silently
      // planned SortAggregate (struct buffers are not
      // UnsafeRow-mutable; see nodeOrdDec). The packed form is the
      // map-side-combinable HashAggregate with O(1) state per node
      // the window replacement was meant to buy (~26 GB of external
      // sort per iteration at sf100 otherwise — the communities
      // ENOSPC class).
      // SHUFFLE_HASH on the label side (round 15): |V| label rows
      // against ~1.1 B edge rows — the default sort-merge join sorts
      // the 17 GB edge stream per iteration; hash-building the tiny
      // side skips both sorts, and the groupBy after is a hash agg
      // that never needed the order.
      labels = edges.join(
          labels.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min_by(col("lbl"),
          (-col("c")).cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
            lit(new java.math.BigDecimal(10).pow(21)) +
            nodeOrdDec(col("lbl"))).as("lbl"))
    }
    labels.groupBy(nodeStr(col("lbl")).as("community"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("community")).limit(20)
  }

  /** Market-basket association over the same co-purchase projection as
    * [[graphTriangles]]: per part-pair co-occurrence count, support,
    * and LIFT = P(a,b) / (P(a)·P(b)) — the "frequently bought
    * together" primitive. All counts are integers; lift is rewritten
    * as (c·N) / (n_a·n_b) so the numerator and denominator are exact
    * integer products (< 2⁵³) and ONE rounded division crosses
    * engines. Top 20 pairs by count with id tie-break.
    *
    * Scale: the order self-join keys on the order id (pairs per order
    * are bounded by basket size); pair counting is a
    * map-side-combinable hash-agg; item counts broadcast back onto the
    * bounded top-pair list — the corpus never moves twice. */
  private def graphCopurchaseLift(spark: SparkSession, dir: String): DataFrame = {
    // Materialized once (round 18): the sampled-distinct basket
    // projection previously re-ran its scan → md5 filter → distinct
    // lineage FOUR times (order count, item counts, both self-join
    // legs). Output unchanged; the count() barrier now reads the
    // materialized rows instead of re-deriving them.
    val li = matGraphRel(spark, dir, "liftli_v1")(lineitem(spark, dir)
      .filter(conv(substring(md5(concat(lit("tri:"), col("l_orderkey").cast("string"))),
        1, 8), 16, 10).cast("long") % 4 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct())
    val nOrders = li.select(col("ok")).distinct().count()
    val itemCnt = li.groupBy(col("pk")).agg(count(lit(1)).as("n_ord"))
    val pairCnt = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("part_a"), col("part_b")).limit(20)
    pairCnt
      .join(itemCnt.select(col("pk").as("part_a"), col("n_ord").as("na")), "part_a")
      .join(itemCnt.select(col("pk").as("part_b"), col("n_ord").as("nb")), "part_b")
      .select(col("part_a"), col("part_b"), col("c"),
        Parity.r6(col("c").cast("double") / nOrders).as("support"),
        Parity.r6((col("c") * nOrders).cast("double")
          / (col("na") * col("nb")).cast("double")).as("lift"))
      .orderBy(col("c").desc, col("part_a"), col("part_b"))
  }

  private val edgesCte =
    """WITH edges AS (
      |  SELECT 'p' || CAST(l_partkey AS VARCHAR) AS src,
      |         's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      |  UNION ALL
      |  SELECT 's' || CAST(l_suppkey AS VARCHAR),
      |         'p' || CAST(l_partkey AS VARCHAR)
      |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      |)""".stripMargin

  /** Degree assortativity of the part–supplier graph — Newman's r:
    * the Pearson correlation of (deg(src), deg(dst)) over directed
    * edges. r > 0 means hubs link to hubs (resilient core), r < 0
    * means hubs link to leaves (star-like, hub-fragile) — the one
    * number that says which failure mode a supply graph has. All five
    * moments are exact DECIMAL(38,0) sums of integer degree products
    * (the Spearman discipline — covariance differences form exactly,
    * no float cancellation at any edge count); only the final ratio
    * runs in doubles.
    *
    * Scale: two degree aggs + two shuffle joins keyed on node id (no
    * broadcast assumption — degree tables scale with nodes), then one
    * combinable moment agg to a single row. */
  private def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = bipartiteEdges(spark, dir)
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("deg"))
    val j = e
      .join(deg.select(col("node").as("src"), col("deg").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dd")), "dst")
    val g = j.agg(
      count(lit(1)).cast("long").as("m"),
      sum(col("ds")).cast(dec).as("sx"), sum(col("dd")).cast(dec).as("sy"),
      sum((col("ds") * col("ds")).cast(dec)).as("sxx"),
      sum((col("dd") * col("dd")).cast(dec)).as("syy"),
      sum((col("ds") * col("dd")).cast(dec)).as("sxy"))
    val mDec = col("m").cast(dec)
    val cov = (mDec * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (mDec * col("sxx") - col("sx") * col("sx")).cast("double")
    val vy = (mDec * col("syy") - col("sy") * col("sy")).cast("double")
    g.select(col("m").as("n_edges"),
      Parity.r4(col("sx").cast("double") / col("m").cast("double"))
        .as("mean_deg_src"),
      Parity.r4(col("sy").cast("double") / col("m").cast("double"))
        .as("mean_deg_dst"),
      when(vx > 0.0 && vy > 0.0,
        Parity.r6(cov / (sqrt(vx) * sqrt(vy)))).as("assortativity"))
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("graph_assortativity", Some(
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        | edges AS (
        |  SELECT 'p' || CAST(l_partkey AS VARCHAR) AS src,
        |         's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM pairs
        |  UNION ALL
        |  SELECT 's' || CAST(l_suppkey AS VARCHAR),
        |         'p' || CAST(l_partkey AS VARCHAR)
        |  FROM pairs),
        | deg AS (
        |  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |  FROM edges GROUP BY 1),
        | j AS (
        |  SELECT a.deg AS ds, b.deg AS dd
        |  FROM edges e
        |  JOIN deg a ON e.src = a.node
        |  JOIN deg b ON e.dst = b.node),
        | g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |   sum(CAST(ds AS HUGEINT)) AS sx, sum(CAST(dd AS HUGEINT)) AS sy,
        |   sum(CAST(ds AS HUGEINT) * ds) AS sxx,
        |   sum(CAST(dd AS HUGEINT) * dd) AS syy,
        |   sum(CAST(ds AS HUGEINT) * dd) AS sxy
        |  FROM j),
        | f AS (
        |  SELECT m,
        |   CAST(CAST(m AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS cov,
        |   CAST(CAST(m AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS vx,
        |   CAST(CAST(m AS HUGEINT) * syy - sy * sy AS DOUBLE) AS vy,
        |   CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        |  FROM g)
        |SELECT m AS n_edges,
        | floor(sxd / CAST(m AS DOUBLE) * 10000 + 0.5) / 10000 AS mean_deg_src,
        | floor(syd / CAST(m AS DOUBLE) * 10000 + 0.5) / 10000 AS mean_deg_dst,
        | CASE WHEN vx > 0.0 AND vy > 0.0 THEN
        |  floor(cov / (sqrt(vx) * sqrt(vy)) * 1000000 + 0.5) / 1000000 END
        |  AS assortativity
        |FROM f""".stripMargin),
      graphAssortativity),

    QueryDef("graph_triangles", Some(
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE CAST(('0x' || substr(md5('tri:' || CAST(l_orderkey AS VARCHAR)), 1, 8))
        |          AS BIGINT) % 4 = 0),
        | pairs AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        | deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
        |  GROUP BY node),
        | oriented AS (
        |  SELECT
        |   CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u < v)
        |        THEN u ELSE v END AS src,
        |   CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u < v)
        |        THEN v ELSE u END AS dst,
        |   CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u < v)
        |        THEN d2.deg ELSE d1.deg END AS ddst
        |  FROM pairs
        |   JOIN deg d1 ON d1.node = pairs.u
        |   JOIN deg d2 ON d2.node = pairs.v),
        | wedges AS (
        |  SELECT x.src AS a, x.dst AS b, y.dst AS c
        |  FROM oriented x JOIN oriented y ON x.src = y.src
        |   AND (x.ddst < y.ddst OR (x.ddst = y.ddst AND x.dst < y.dst))),
        | tri AS (
        |  SELECT w.a, w.b, w.c FROM wedges w
        |  JOIN oriented e ON e.src = w.b AND e.dst = w.c),
        | per_node AS (
        |  SELECT node, count(*) AS triangles FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY node)
        |SELECT CAST(p.node AS BIGINT) AS part, d.deg AS degree, p.triangles,
        | floor(2.0 * p.triangles / (d.deg * (d.deg - 1)) * 1000000 + 0.5) / 1000000
        |   AS clustering
        |FROM per_node p JOIN deg d ON d.node = p.node
        |ORDER BY p.triangles DESC, part LIMIT 20""".stripMargin),
      graphTriangles),

    QueryDef("graph_kcore", Some(
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE CAST(('0x' || substr(md5('tri:' || CAST(l_orderkey AS VARCHAR)), 1, 8))
        |          AS BIGINT) % 4 = 0),
        | pairs AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        | adj AS (
        |  SELECT u AS a, v AS b FROM pairs
        |  UNION ALL SELECT v AS a, u AS b FROM pairs),
        | l1 AS (
        |  SELECT a AS node, count(*) AS deg FROM adj
        |  GROUP BY 1 HAVING count(*) >= 2),
        | l2 AS (
        |  SELECT adj.a AS node, count(*) AS deg FROM adj
        |   JOIN l1 x ON x.node = adj.a
        |   JOIN l1 y ON y.node = adj.b
        |  GROUP BY 1 HAVING count(*) >= 2),
        | l3 AS (
        |  SELECT adj.a AS node, count(*) AS deg FROM adj
        |   JOIN l2 x ON x.node = adj.a
        |   JOIN l2 y ON y.node = adj.b
        |  GROUP BY 1 HAVING count(*) >= 2)
        |SELECT CAST(node AS BIGINT) AS part, deg AS coredeg
        |FROM l3 ORDER BY coredeg DESC, part LIMIT 50""".stripMargin),
      graphKcore),

    QueryDef("graph_communities", Some(
      edgesCte +
        """,
          |nodes AS (SELECT DISTINCT src AS node FROM edges),
          |l0 AS (SELECT node, node AS lbl FROM nodes),
          |c1 AS (
          |  SELECT e.dst AS node, l0.lbl, count(*) AS c
          |  FROM edges e JOIN l0 ON l0.node = e.src GROUP BY 1, 2),
          |l1 AS (
          |  SELECT node, lbl FROM (
          |    SELECT node, lbl,
          |     row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
          |    FROM c1) WHERE rn = 1),
          |c2 AS (
          |  SELECT e.dst AS node, l1.lbl, count(*) AS c
          |  FROM edges e JOIN l1 ON l1.node = e.src GROUP BY 1, 2),
          |l2 AS (
          |  SELECT node, lbl FROM (
          |    SELECT node, lbl,
          |     row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
          |    FROM c2) WHERE rn = 1)
          |SELECT lbl AS community, count(*) AS n_nodes
          |FROM l2 GROUP BY lbl
          |ORDER BY n_nodes DESC, community LIMIT 20""".stripMargin),
      graphCommunities),

    QueryDef("graph_copurchase_lift", Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE CAST(('0x' || substr(md5('tri:' || CAST(l_orderkey AS VARCHAR)), 1, 8))
        |          AS BIGINT) % 4 = 0),
        | n AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
        | item AS (SELECT pk, count(*) AS n_ord FROM li GROUP BY pk),
        | pairs AS (
        |  SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS c
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2
        |  ORDER BY c DESC, part_a, part_b LIMIT 20)
        |SELECT part_a, part_b, c,
        | floor(CAST(c AS DOUBLE) / (SELECT n_orders FROM n) * 1000000 + 0.5)
        |   / 1000000 AS support,
        | floor(CAST(c * (SELECT n_orders FROM n) AS DOUBLE)
        |   / CAST(ia.n_ord * ib.n_ord AS DOUBLE) * 1000000 + 0.5) / 1000000 AS lift
        |FROM pairs
        | JOIN item ia ON ia.pk = part_a
        | JOIN item ib ON ib.pk = part_b
        |ORDER BY c DESC, part_a, part_b""".stripMargin),
      graphCopurchaseLift),

    QueryDef("graph_pagerank", Some(
      edgesCte +
        """,
          |nodes AS (SELECT DISTINCT src AS node FROM edges),
          |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
          |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
          |r0 AS (SELECT node, 1.0/(SELECT n FROM n) AS pr FROM nodes),
          |r1 AS (SELECT nodes.node,
          |        0.15/(SELECT n FROM n) + 0.85*coalesce(sum(r0.pr/deg.outdeg),0) AS pr
          |       FROM nodes LEFT JOIN edges ON edges.dst = nodes.node
          |        LEFT JOIN r0 ON r0.node = edges.src
          |        LEFT JOIN deg ON deg.src = edges.src
          |       GROUP BY nodes.node),
          |r2 AS (SELECT nodes.node,
          |        0.15/(SELECT n FROM n) + 0.85*coalesce(sum(r1.pr/deg.outdeg),0) AS pr
          |       FROM nodes LEFT JOIN edges ON edges.dst = nodes.node
          |        LEFT JOIN r1 ON r1.node = edges.src
          |        LEFT JOIN deg ON deg.src = edges.src
          |       GROUP BY nodes.node),
          |r3 AS (SELECT nodes.node,
          |        0.15/(SELECT n FROM n) + 0.85*coalesce(sum(r2.pr/deg.outdeg),0) AS pr
          |       FROM nodes LEFT JOIN edges ON edges.dst = nodes.node
          |        LEFT JOIN r2 ON r2.node = edges.src
          |        LEFT JOIN deg ON deg.src = edges.src
          |       GROUP BY nodes.node)
          |SELECT node, floor(pr * 100000000 + 0.5) / 100000000 AS pagerank
          |FROM r3 ORDER BY pagerank DESC, node LIMIT 50""".stripMargin),
      graphPagerank),

    QueryDef("graph_reachability", Some(
      edgesCte +
        """,
          |reach AS (
          |  WITH RECURSIVE r(node, hops) AS (
          |    SELECT 'p1', 0
          |    UNION ALL
          |    SELECT e.dst, r.hops + 1
          |    FROM r JOIN edges e ON e.src = r.node
          |    WHERE r.hops < 2)
          |  SELECT * FROM r)
          |SELECT node, CAST(min(hops) AS BIGINT) AS hops
          |FROM reach GROUP BY node ORDER BY hops, node""".stripMargin),
      graphReachability),

    QueryDef("graph_degree", Some(
      edgesCte +
        """
          |SELECT substr(node, 1, 1) AS side, degree,
          | CAST(count(*) AS BIGINT) AS n_nodes
          |FROM (SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
          |      FROM edges GROUP BY src)
          |GROUP BY side, degree ORDER BY side, degree""".stripMargin),
      graphDegree)
  )
}
