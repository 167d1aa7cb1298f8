package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-capped iterative graph operators as plain DataFrame
  * transformations — the library surface behind the graph_part_kcore
  * and graph_part_sssp driver queries, factored out so (a) an embedding
  * application can run them on any edge list, and (b) the suite can pin
  * their semantics on hand-checkable fixtures.
  *
  * Both operators follow the ExactPageRank loop discipline: the
  * undirected edge table is repartitioned by src and persisted ONCE,
  * each round pays one join against that stationary table, and every
  * round-carried relation is pinned. A round that references the
  * previous round twice nests 2^R subtrees. Lazy persist handles that
  * at execution (cache-manager substitution runs each round once), but
  * every plan string still carries the whole tree, and AQE formats it
  * on each re-plan: k-core's formatted plan was 2.15 MB, and under AQE
  * at sf0.01 a 6 GB driver ran out of heap. So k-core cuts the lineage
  * each round with an eager local checkpoint
  * ([[graft.CacheRegistry.checkpointTracked]]), and each round plans
  * against a scan of the previous round's blocks (about 2× faster at
  * sf0.1, same 5,922 rows); sssp's smaller tree stays lazily persisted. All arithmetic is integer, so results are
  * bit-identical under any partitioning — the property that lets the
  * driver queries take hard DuckDB value oracles (the same rounds
  * unrolled as CTEs).
  */
object GraphOps {

  /** Both orientations of an edge list in ONE pass (r17): the
    * union-with-reversed form references `e` twice, so an unpersisted
    * input pipeline (the whole lineitem group-then-expand in the
    * driver queries) EXECUTES twice — the plan ledger showed every
    * union-undirected graph row scanning lineitem 2-4×. explode over a
    * two-struct array emits (src,dst,…) and (dst,src,…) per input row
    * in a single codegen'd Generate: same rows, one build. */
  private[graft] def undirect(e: DataFrame, cols: Seq[String]): DataFrame = {
    val fwd = struct(cols.map(col): _*)
    val rev = struct((col(cols(1)).as(cols(0)) +: col(cols(0)).as(cols(1)) +:
      cols.drop(2).map(col)): _*)
    e.select(explode(array(fwd, rev)).as("_e"))
      .select(cols.map(c => col(s"_e.$c")): _*)
  }

  /** Undirect + repartition + persist an edge list (weighted when
    * `cols` includes w). */
  private def stationaryUndirected(e: DataFrame, cols: Seq[String]): DataFrame =
    graft.CacheRegistry.persistTracked(
      undirect(e.select(cols.map(col): _*), cols).repartition(col("src")))

  /** k-core decomposition by iterative peeling, capped at `rounds`:
    * returns (v, removed_round) where removed_round is the 1-based peel
    * round that dropped the vertex, 0 if it still stands after the last
    * round (for a graph whose peeling converges within the cap, the
    * 0 rows are exactly the k-core).
    *
    * DELTA form (r17): the r16 loop re-joined the FULL surviving
    * subgraph against the edge table twice per round to recount every
    * survivor's induced degree — the whole alive edge stream crossed an
    * exchange every round even when one pendant vertex fell. Peeling is
    * incremental by definition: a survivor's induced degree only
    * changes by the edges it shares with JUST-REMOVED vertices, so each
    * round now (1) filters the degree state below k (the removed set,
    * usually a sliver), (2) counts that sliver's incident edges with
    * ONE co-partitioned probe of the stationary src-partitioned edge
    * table (only matched edges — not the alive subgraph — pay the
    * regroup-by-dst exchange), and (3) decrements survivor degrees via
    * a co-partitioned left join. Exact same integer peel trajectory:
    * deg_r(v) = deg_{r−1}(v) − |removed_{r−1} ∩ N(v)| IS the induced
    * degree on alive_{r−1}, by induction from the full-graph deg_1.
    * The per-round removed sets also carry their round directly, so
    * the old membership-count reconstruction join disappears. */
  def kcoreRounds(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val und = stationaryUndirected(edges, Seq("src", "dst"))
    // degree state over survivors: starts as the full-graph degree
    // (every vertex appears as a src in the undirected table)
    var state = graft.CacheRegistry.checkpointTracked(
      und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg")))
    val removedParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to rounds) {
      val removed = graft.CacheRegistry.persistTracked(
        state.where(col("deg") < k).select("v"))
      removedParts += removed.select(col("v"), lit(r.toLong).as("removed_round"))
      // edges OUT of removed vertices, counted per surviving endpoint:
      // und rows (u, v) with u removed contribute 1 to v's decrement —
      // the undirected table carries both orientations, so this covers
      // every incident edge exactly once per direction
      val dec = und.join(removed.select(col("v").as("src")), Seq("src"))
        .groupBy(col("dst").as("v")).agg(count(lit(1)).as("dd"))
      state = graft.CacheRegistry.checkpointTracked(
        state.where(col("deg") >= k)
          .join(dec, Seq("v"), "left")
          .select(col("v"),
            (col("deg") - coalesce(col("dd"), lit(0L))).as("deg")))
    }
    state.select(col("v"), lit(0L).as("removed_round"))
      .unionAll(removedParts.reduce(_ unionAll _))
  }

  /** Local clustering coefficient per vertex from a canonical
    * (src < dst, distinct) edge list: (v, deg, tri, coeff) with
    * coeff = 2·tri / (deg·(deg−1)), 0.0 below degree 2. Declarative
    * 3-way self-join triangle enumeration — each join shuffles on an
    * edge endpoint, no per-vertex adjacency arrays, so a hot vertex
    * costs its edge count, not neighborhood². tri/deg are integers and
    * coeff is one double division of integer operands, so results are
    * bit-identical under any partitioning. */
  def clusteringCoeff(edges: DataFrame): DataFrame = {
    val e = graft.CacheRegistry.persistTracked(
      edges.select(col("src").as("a"), col("dst").as("b")))
    val tris = e.as("e1")
      .join(e.as("e2"), col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .select(col("e1.b").as("y"), col("e2.b").as("z"), col("e1.a").as("x"))
      .join(e.as("e3"), col("y") === col("e3.a") && col("z") === col("e3.b"))
      .select("x", "y", "z")
    val pv = tris.select(col("x").as("v"))
      .unionAll(tris.select(col("y").as("v")))
      .unionAll(tris.select(col("z").as("v")))
      .groupBy("v").agg(count(lit(1)).as("tri"))
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    deg.join(pv, Seq("v"), "left")
      .select(col("v"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") < 2, lit(0.0))
          .otherwise((coalesce(col("tri"), lit(0L)) * 2).cast("double") /
            (col("deg") * (col("deg") - 1))).as("coeff"))
  }

  /** Degree assortativity (Newman's r) from a canonical (src < dst,
    * distinct) edge list: Pearson correlation of endpoint degrees over
    * both orientations, via exact integer/decimal sufficient
    * statistics and ONE double division (0.0 on a regular graph —
    * engines disagree on double 0/0). Returns one row
    * (n, sj, assortativity). */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = graft.CacheRegistry.persistTracked(edges.select("src", "dst"))
    val und = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val dd = und
      .join(deg.select(col("v").as("src"), col("deg").as("dj")), Seq("src"))
      .join(deg.select(col("v").as("dst"), col("deg").as("dk")), Seq("dst"))
    dd.agg(
        count(lit(1)).as("n"),
        sum(col("dj")).as("sj"),
        // each operand widens to DECIMAL(38,0) BEFORE the multiply
        // (q_correlation discipline): casting the long×long product
        // would wrap first and widen the wreckage — two ~3e9-degree
        // hubs meeting on one edge is inside the 100 TB envelope,
        // and the HUGEINT oracle stays exact where the long wraps
        sum(col("dj").cast("decimal(38,0)") * col("dk").cast("decimal(38,0)")).as("sjk"),
        sum(col("dj").cast("decimal(38,0)") * col("dj").cast("decimal(38,0)")).as("sjj"))
      .select(col("n"), col("sj"),
        (col("n").cast("decimal(38,0)") * col("sjk")
          - col("sj").cast("decimal(38,0)") * col("sj").cast("decimal(38,0)")).as("num"),
        (col("n").cast("decimal(38,0)") * col("sjj")
          - col("sj").cast("decimal(38,0)") * col("sj").cast("decimal(38,0)")).as("den"))
      .select(col("n"), col("sj"),
        when(col("den") === 0, lit(0.0))
          .otherwise(col("num").cast("double") / col("den").cast("double"))
          .as("assortativity"))
  }

  /** Grading-time hub audit for the wedge family, FOLDED into the
    * operator (r9 VERDICT #3): the driver oracles replay the wedge
    * enumeration UNCAPPED, which is provably identical to the capped
    * plan iff no vertex exceeds `hubCap` — assert that instead of
    * trusting it. The audit reuses the SAME degree table the hub
    * filter is about to consume: the table is persisted here, the
    * eager max-aggregate populates the cache, and the wedge join then
    * reads it back — so the degree pass is paid ONCE for both audit
    * and filter (the r9 standalone `assertNoHubs` wrapper computed
    * degrees in a separate full job, ~+1 s per wedge query). If corpus
    * growth ever pushes a degree past the cap, grading fails LOUDLY
    * here instead of Spark and the oracle silently diverging (today's
    * max co-occurrence degree is 13 vs cap 1000). `audit = None`
    * (library use) skips the action entirely. */
  private def auditHubs(deg: DataFrame, hubCap: Int, audit: Option[String],
      alreadyPinned: Boolean = false): DataFrame = audit match {
    case None => deg
    case Some(who) =>
      val pinned =
        if (alreadyPinned) deg else graft.CacheRegistry.persistTracked(deg)
      val r = pinned.agg(max("deg")).head
      val maxDeg = if (r.isNullAt(0)) 0L else r.getLong(0)
      require(maxDeg <= hubCap,
        s"$who: max co-occurrence degree $maxDeg exceeds hubCap=$hubCap — " +
          "the uncapped SQL oracle is no longer equivalent to the capped " +
          "plan; raise the cap or re-derive the oracle with the cap applied")
      pinned
  }

  /** Common-neighbor link prediction from a canonical (src < dst,
    * distinct) edge list: the top-K NON-adjacent vertex pairs ranked by
    * shared-neighbor count (the classic link-prediction baseline; ties
    * broken on the pair for a deterministic board). Wedges enumerate by
    * joining the adjacency on its center — the same endpoint-shuffle
    * shape as the triangle join — and `hubCap` excludes centers above
    * that degree from wedge service (a mega-hub contributes deg²
    * candidate pairs and near-zero signal; same guard family as the
    * clique cap in the group-then-expand queries). */
  def commonNeighbors(edges: DataFrame, hubCap: Int, topK: Int,
      pinned: Boolean = false, audit: Option[String] = None): DataFrame = {
    // pinned = caller already persisted `edges` — re-persisting the
    // (src, dst) projection would hold a SECOND materialized copy of
    // the edge data
    val e =
      if (pinned) edges.select("src", "dst")
      else graft.CacheRegistry.persistTracked(edges.select("src", "dst"))
    val adj = e.select(col("src").as("c"), col("dst").as("v"))
      .unionAll(e.select(col("dst").as("c"), col("src").as("v")))
    val deg = auditHubs(adj.groupBy("c").agg(count(lit(1)).as("deg")),
      hubCap, audit)
    val ok = adj.join(deg.where(col("deg") <= hubCap).select("c"), Seq("c"))
    val pairs = ok.as("x")
      .join(ok.as("y"), col("x.c") === col("y.c") && col("x.v") < col("y.v"))
      .select(col("x.v").as("src"), col("y.v").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("cn"))
    pairs.join(e, Seq("src", "dst"), "left_anti")
      .orderBy(col("cn").desc, col("src"), col("dst"))
      .limit(topK)
  }

  /** Neighborhood-Jaccard link prediction — the normalized refinement
    * of [[commonNeighbors]]: J(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)|, so a
    * pair sharing 3 of 4 neighbors outranks a hub pair sharing 3 of
    * 300. Same hub-capped wedge join builds the intersection counts;
    * degrees decorate back via two joins on the vertex-cardinality
    * degree table (co-hashed on the pair columns at scale). All-integer
    * cn/deg; the single double division is the ranking key on both
    * engines (exact ints in, correctly rounded out — bit-identical),
    * ties broken by the full pair. */
  def neighborJaccard(edges: DataFrame, hubCap: Int, topK: Int,
      pinned: Boolean = false, audit: Option[String] = None): DataFrame = {
    val e =
      if (pinned) edges.select("src", "dst")
      else graft.CacheRegistry.persistTracked(edges.select("src", "dst"))
    val adj = e.select(col("src").as("c"), col("dst").as("v"))
      .unionAll(e.select(col("dst").as("c"), col("src").as("v")))
    val deg = auditHubs(graft.CacheRegistry.persistTracked(
      adj.groupBy("c").agg(count(lit(1)).as("deg"))), hubCap, audit,
      alreadyPinned = true)
    val ok = adj.join(deg.where(col("deg") <= hubCap).select("c"), Seq("c"))
    val pairs = ok.as("x")
      .join(ok.as("y"), col("x.c") === col("y.c") && col("x.v") < col("y.v"))
      .select(col("x.v").as("src"), col("y.v").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("cn"))
    pairs.join(e, Seq("src", "dst"), "left_anti")
      .join(deg.select(col("c").as("src"), col("deg").as("deg_src")), Seq("src"))
      .join(deg.select(col("c").as("dst"), col("deg").as("deg_dst")), Seq("dst"))
      .withColumn("jaccard",
        col("cn").cast("double") / (col("deg_src") + col("deg_dst") - col("cn")))
      .orderBy(col("jaccard").desc, col("src"), col("dst"))
      .limit(topK)
      .select(col("src"), col("dst"), col("cn"), col("deg_src"), col("deg_dst"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Two-hop reach per vertex: |{u ≠ v : dist(v,u) ≤ 2}| — the local
    * influence measure (how much of the graph a node touches through
    * one intermediary). One-hop pairs union wedge-expanded two-hop
    * pairs, distinct, count per vertex. The wedge expansion goes
    * through intermediates with degree ≤ `hubCap` ONLY (a hub would
    * contribute deg² pairs — the same guard as commonNeighbors);
    * hub-adjacent direct edges still count at one hop, so the cap
    * bounds cost without disconnecting anything. Only (vertex, vertex)
    * id pairs ever shuffle. */
  def twoHopReach(edges: DataFrame, hubCap: Int,
      pinned: Boolean = false, audit: Option[String] = None): DataFrame = {
    val e =
      if (pinned) edges.select("src", "dst")
      else graft.CacheRegistry.persistTracked(edges.select("src", "dst"))
    val adj = e.select(col("src").as("c"), col("dst").as("v"))
      .unionAll(e.select(col("dst").as("c"), col("src").as("v")))
    val deg = auditHubs(adj.groupBy("c").agg(count(lit(1)).as("deg")),
      hubCap, audit)
    val mid = adj.join(deg.where(col("deg") <= hubCap).select("c"), Seq("c"))
    val twoHop = mid.select(col("v").as("a"), col("c").as("m"))
      .join(mid.select(col("c").as("m"), col("v").as("b")), Seq("m"))
      .where(col("a") =!= col("b"))
      .select(col("a").as("c"), col("b").as("v"))
    adj.select("c", "v").unionAll(twoHop).distinct()
      .groupBy("c").agg(count(lit(1)).as("reach2"))
      .select(col("c").as("part"), col("reach2"))
  }

  /** Weighted single-source shortest paths (min-plus relaxation) from
    * the smallest vertex id, capped at `rounds` relaxations: returns
    * (v, dist) with −1 for vertices not reached within the cap.
    * `edges` must carry (src, dst, w) with integer weights.
    *
    * DELTA form (r17): the r16 loop relaxed EVERY settled vertex every
    * round — the edge join and the min-regroup both grew with the
    * reached set, which converges to the whole graph by the middle
    * rounds. Classic frontier Bellman-Ford relaxes only vertices whose
    * distance IMPROVED last round: an unimproved vertex's candidates
    * dist(u)+w were already folded into every neighbor's distance the
    * round it settled, so dropping them changes nothing —
    * dist_r(v) = min(dist_{r−1}(v), min over last round's improved u of
    * dist_{r−1}(u)+w) reproduces the exact integer trajectory by
    * induction. Each round pays one co-partitioned frontier⋈edges probe
    * (frontier-incident edges alone regroup by dst) plus one
    * co-partitioned full-outer merge with the distance state. */
  def ssspRounds(edges: DataFrame, rounds: Int): DataFrame = {
    val und = stationaryUndirected(edges, Seq("src", "dst", "w"))
    // two consumers (source seed + final −1 backfill join) — persist,
    // or the distinct-vertex aggregation runs twice
    val nodes = graft.CacheRegistry.persistTracked(
      und.select(col("src").as("v")).distinct())
    var dist = graft.CacheRegistry.persistTracked(
      nodes.agg(min("v").as("v")).select(col("v"), lit(0L).as("dist")))
    var frontier = dist
    for (_ <- 1 to rounds) {
      val relaxed = frontier.as("f")
        .join(und.as("e"), col("f.v") === col("e.src"))
        .select(col("e.dst").as("v"), (col("f.dist") + col("e.w")).as("nd"))
        .groupBy("v").agg(min("nd").as("nd"))
      val merged = graft.CacheRegistry.persistTracked(
        dist.join(relaxed, Seq("v"), "full_outer")
          .select(col("v"),
            // least() skips NULLs: newly-reached keep nd, unrelaxed
            // keep dist, both-present take the min — the same fold the
            // old union+min computed
            least(col("dist"), col("nd")).as("ndist"),
            (col("nd").isNotNull &&
              (col("dist").isNull || col("nd") < col("dist"))).as("imp")))
      dist = merged.select(col("v"), col("ndist").as("dist"))
      frontier = merged.where(col("imp")).select(col("v"), col("ndist").as("dist"))
    }
    nodes.join(dist, Seq("v"), "left")
      .select(col("v"), coalesce(col("dist"), lit(-1L)).as("dist"))
  }
}
