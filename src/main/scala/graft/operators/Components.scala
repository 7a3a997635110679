package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the canonical step
  * AFTER near-duplicate pair detection (q26/q28/q30/q32 emit pairs; a real
  * dedup pipeline must then group transitively-linked docs into clusters and
  * keep one survivor per cluster; pair-wise dropping alone under-deletes
  * chains A~B~C where A~C was never emitted).
  *
  * Mirrors the reference's "resolve duplicates before loading" intent
  * (`/root/reference/notion_data_ingestion.py` dedups on page key before
  * upsert) generalized to transitive near-dup groups.
  *
  * Two implementations, one contract — `(node, component)` with
  * `component = min(node id in the connected component)`:
  *
  *  - [[labelPropagation]]: each round every node takes the min label among
  *    itself and its neighbors. Converges in O(diameter) rounds — fine when
  *    clusters are dense (near-dup groups usually are), and simple enough to
  *    serve as the independent reference for the property tests.
  *  - [[alternatingStars]]: the large-star/small-star algorithm of Kiveris
  *    et al., "Connected Components in MapReduce and Beyond" (SoCC '14).
  *    Each phase rewires edges toward per-neighborhood minima; the edge set
  *    converges to a star forest rooted at each component's min in
  *    O(log^2 n) rounds regardless of diameter — the right shape for
  *    100 TB graphs with long chains (drifting near-dup sequences), where
  *    propagation's O(diameter) rounds would not terminate in reasonable
  *    time. Every phase is one shuffle (groupBy min + co-partitioned join);
  *    nothing is ever collected to the driver.
  *
  * Both paths `localCheckpoint` per round: iterative plans otherwise grow
  * lineage exponentially and re-execute the whole history each round.
  *
  * Checkpoint lifecycle: intermediate generations are rolling-released
  * ([[Checkpoints.release]]) inside the loop; the FINAL generation backing
  * the returned frame (and [[hostPagerank]]'s tracked internals) is
  * taken through [[Checkpoints.trackedEagerPinned]], so
  * `Checkpoints.releaseTracked()` frees it irreversibly — materialize the
  * result BEFORE calling it (the one-action-window contract documented on
  * [[Checkpoints]]).
  */
object Components {

  /** Symmetric, loop-free, distinct directed view of an undirected edge
    * list: each undirected {a,b} appears as both (a,b) and (b,a). */
  private def symmetrize(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Canonical undirected form: (lo, hi), lo < hi, distinct. */
  private def canon(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.filter(col(a) =!= col(b))
      .select(least(col(a), col(b)).as("lo"), greatest(col(a), col(b)).as("hi"))
      .distinct()

  /** Min-label propagation. Returns (node, component) for every node that
    * appears in `edges`. O(diameter) rounds; `maxIters` is a safety bound
    * (requires convergence — a non-converged result would be silently
    * wrong, so it throws instead). */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIters: Int = 50): DataFrame = {
    val e2 = symmetrize(edges, srcCol, dstCol).transform(Checkpoints.trackedEagerPinned)
    var labels = e2.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("comp")).transform(Checkpoints.trackedEagerPinned)
    var done = e2.isEmpty
    var i = 0
    while (!done && i < maxIters) {
      // every node offers its label to each neighbor; keep the min of
      // (own label, offered labels)
      val offers = e2.join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), col("comp"))
      val next = labels.unionByName(offers)
        .groupBy("node").agg(min("comp").as("comp"))
        .transform(Checkpoints.trackedEagerPinned)
      // labels only ever decrease, so "changed" = any label strictly lower
      val changed = next.join(labels.withColumnRenamed("comp", "prev"), Seq("node"))
        .filter(col("comp") < col("prev")).limit(1).count() > 0
      // generation n−1 is dead once `next` is materialized and `changed`
      // computed — the rolling acquire→use→release that keeps O(1)
      // checkpointed generations instead of one block set per round
      Checkpoints.release(labels)
      labels = next
      done = !changed
      i += 1
    }
    require(done, s"labelPropagation did not converge in $maxIters rounds")
    // the returned relation reads only the FINAL labels checkpoint
    Checkpoints.release(e2)
    labels.select(col("node"), col("comp").as("component"))
  }

  /** Alternating large-star/small-star (Kiveris et al. '14). Returns
    * (node, component) for every node that appears in `edges`;
    * `component` is the min node id of the connected component. */
  def alternatingStars(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIters: Int = 30): DataFrame = {
    var ce = canon(edges, srcCol, dstCol).transform(Checkpoints.trackedEagerPinned)
    var done = ce.isEmpty
    var i = 0
    while (!done && i < maxIters) {
      // large-star: every node u links its LARGER neighbors to
      // m(u) = min(N(u) ∪ {u})
      val e2 = symmetrize(ce, "lo", "hi")
      val mins = e2.groupBy("src").agg(min("dst").as("mn"))
      val ls = e2.join(mins, Seq("src"))
        .select(col("src"), col("dst"), least(col("mn"), col("src")).as("m"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("a"), col("m").as("b"))
      val afterLarge = canon(ls, "a", "b").transform(Checkpoints.trackedEagerPinned)

      // small-star: orient edges toward the larger endpoint; every node u
      // links its smaller neighbors AND itself to m(u) = min of the
      // smaller neighbors
      val sm = symmetrize(afterLarge, "lo", "hi").filter(col("dst") < col("src"))
      val smins = sm.groupBy("src").agg(min("dst").as("m"))
      val ss = sm.join(smins, Seq("src"))
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("a"), col("m").as("b"))
        .unionByName(smins.select(col("src").as("a"), col("m").as("b")))
      val next = canon(ss, "a", "b").transform(Checkpoints.trackedEagerPinned)

      // fixpoint = the canonical edge set stopped moving
      val diff = next.unionByName(ce)
        .groupBy("lo", "hi").agg(count(lit(1)).as("n"))
        .filter(col("n") === 1).limit(1).count()
      // afterLarge and generation n−1 are dead once `next` is
      // materialized and the fixpoint count has read them — release so
      // the loop holds ONE checkpointed generation, not 2 per round
      Checkpoints.release(afterLarge)
      Checkpoints.release(ce)
      ce = next
      done = diff == 0
      i += 1
    }
    require(done, s"alternatingStars did not converge in $maxIters rounds")
    // converged set is a star forest (root = component min): every non-root
    // appears as `hi` pointing at its root `lo`; roots appear only as `lo`
    val members = ce.groupBy(col("hi").as("node")).agg(min("lo").as("component"))
    val roots = ce.select(col("lo").as("node")).distinct()
      .join(members.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component"))
    members.unionByName(roots)
  }

  /** Cluster assignment for a full corpus: every row of `df` tagged with
    * its duplicate-cluster id (component min over `edges`, transitively);
    * rows with no near-dup edge are their own singleton cluster. The
    * survivor of each cluster is the row where `id = component`. */
  def dedupClusters(
      df: DataFrame,
      idCol: String,
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val comp = alternatingStars(edges, srcCol, dstCol)
      .withColumnRenamed("node", idCol)
    df.join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol).cast("long")))
  }

  /** Pick the canonical survivor per duplicate cluster by QUALITY, not by
    * min id: the production dedup policy (keep the best-scored copy of the
    * page, drop its near-duplicates) — min-id survivors systematically
    * prefer whichever crawl happened to be ingested first, which is
    * uncorrelated with being the cleanest copy.
    *
    * `clusters` is [[dedupClusters]] output (idCol, compCol); `scores` maps
    * idCol → scoreCol (e.g. [[TextAnalysis.qualityScore]]) and MUST cover
    * every cluster id exactly once — the join is inner, so an unscored
    * member silently leaves `n_members` (and a fully-unscored cluster
    * leaves the output); a duplicated score row inflates the count. Both
    * hold trivially when scores are computed per-document from the same
    * corpus the clusters came from, which is the intended composition.
    * The winner is
    * `max(struct(score, id))` — lexicographic struct ordering, so ties on
    * score break to the highest id: a TOTAL order, deterministic on any
    * engine. Output: compCol, `n_members`, `rep_id`, `rep_score`.
    *
    * Scale shape: one id-keyed equi-join (cluster ids against scores) and
    * one component-keyed aggregate whose `max`/`count` both combine
    * map-side — the shuffle carries one candidate struct per component per
    * map task. No window, no sort, nothing driver-side.
    */
  def clusterRepresentatives(
      clusters: DataFrame,
      idCol: String,
      compCol: String,
      scores: DataFrame,
      scoreCol: String): DataFrame =
    clusters.join(scores, Seq(idCol))
      .groupBy(col(compCol))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col(scoreCol), col(idCol))).as("best"))
      .select(col(compCol), col("n_members"),
        col("best").getField(idCol).as("rep_id"),
        col("best").getField(scoreCol).as("rep_score"))

  /** PageRank over a directed edge list (Page et al. '99, power iteration
    * with uniform dangling-mass redistribution) — the crawl-curation
    * ranker: given the host/domain link graph, which domains deserve crawl
    * budget and which are link-farm noise. The Common Crawl host-ranking
    * use case, sitting naturally after [[graft.operators.Scrub]]'s URL
    * lanes (canonicalize → host graph → rank).
    *
    * `pr_{t+1}(v) = (1−d)/N + d·(Σ_{u→v} pr_t(u)/outdeg(u) + dang_t/N)`
    * where `dang_t` is the total rank parked on out-degree-0 nodes.
    *
    * Determinism contract: every iteration's rank is rounded to 12 dp —
    * sum-order ulp drift (Spark partial aggs vs any other engine's scan
    * order) is ~1e-16 relative per round and would otherwise COMPOUND
    * across iterations; the per-round decimal round collapses both
    * engines to the identical double before it can. Emitted rank rounds
    * to 8 dp with the node tiebreak (q64's total-order pattern).
    *
    * Scale shape: edges reduce to the distinct pair list once (map-side
    * combinable); each iteration is one edge⋈rank hash join keyed on the
    * src node + one dst-keyed map-side-combinable sum — the shuffles carry
    * node- and edge-type-bounded relations (the HOST graph: millions of
    * nodes for a 100 TB crawl, tiny next to the corpus). The dangling mass
    * rides as a 1-row broadcast scalar and N as a bounded 1-row-agg
    * literal (the repo's bounded-collect class); `localCheckpoint` per
    * round cuts the otherwise-exponential iterative lineage (the
    * [[alternatingStars]] discipline). Nothing unbounded is ever
    * collected to the driver.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      damping: Double = 0.85,
      iters: Int = 10): DataFrame = {
    val pr = pageRankScores(edges, srcCol, dstCol, damping, iters)
    // Global crawl-priority rank WITHOUT the un-partitioned window that
    // would funnel the whole host universe through one task: range
    // partition + per-partition index (Windows.globalRowNumber), then a
    // guarded narrowing cast — the host universe fits int today and the
    // rank schema is pinned by the oracle, but if it ever doesn't, fail
    // loudly instead of wrapping.
    Windows.globalRowNumber(
      pr.select(col("node"), round(col("pr"), 8).as("pr")),
      Seq(col("pr").desc, col("node").asc), "rank_long")
      .withColumn("rank",
        when(col("rank_long") <= Int.MaxValue, col("rank_long").cast("int"))
          .otherwise(raise_error(
            lit("pageRank: rank exceeds Int.MaxValue; widen the rank column"))))
      .drop("rank_long")
  }

  /** The power-iteration score stage of [[pageRank]], exposed so the final
    * iteration's plan stays lazily inspectable (the rank stage above is
    * RDD-backed and opaque to `.explain`); PlanSpec pins the iteration
    * shape here.
    */
  def pageRankScores(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      damping: Double = 0.85,
      iters: Int = 10): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .transform(Checkpoints.trackedEagerPinned)
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    // r18: the iteration body used to re-derive three loop invariants
    // every round — e⋈outdeg (deg is a property of the graph, not the
    // rank), the dangling-node set (a per-round left_anti join), and a
    // 1-row N broadcast. Hoisting them (guide §2.4: remove shuffles
    // outright) drops the per-round plan from four joins + two broadcast
    // materializations to two hash joins + one broadcast — measured
    // 171 → 61 AQE stage jobs on the 10-iteration q116 lane. All
    // arithmetic operands are unchanged (deg joins in before the
    // pr/deg divide either way; the dangling flag selects the same pr
    // terms the anti-join did; (1−d)/N divides the same doubles), and
    // the per-round 12dp round collapses partial-sum order as before.
    val eDeg = e
      .join(outdeg.withColumnRenamed("node", "src"), Seq("src"))
      .transform(Checkpoints.trackedEagerPinned) // (src, dst, deg)
    // every node with its dangling flag (deg null = no out-edges); the
    // rank relation carries the flag through the rounds so the dangling
    // mass is a filter+sum over pr itself, never a join
    val nodesF = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(outdeg, Seq("node"), "left")
      .select(col("node"), col("deg").isNull.as("dangling"))
      .transform(Checkpoints.trackedEagerPinned)
    // e is dead once eDeg/nodesF are materialized — rolling release
    Checkpoints.release(e)
    // N as a bounded 1-row agg (the repo-wide bounded-collect class);
    // inlined as a literal so no round re-broadcasts a constant
    val n = nodesF.agg(count(lit(1)).cast("double").as("n")).head().getDouble(0)
    var pr = nodesF.select(col("node"), (lit(1.0) / lit(n)).as("pr"),
      col("dangling"))
    var prevCp: DataFrame = null
    for (i <- 1 to iters) {
      // checkpoint the PREVIOUS round at the top so the final round's plan
      // stays inspectable (one un-truncated iteration) while lineage never
      // nests deeper than a single round; the round BEFORE it is dead the
      // moment this eager checkpoint lands — rolling release keeps O(1)
      // generations
      if (i > 1) {
        val cp = pr.transform(Checkpoints.trackedEagerPinned)
        if (prevCp != null) Checkpoints.release(prevCp)
        prevCp = cp
        pr = cp
      }
      val contrib = eDeg
        .join(pr.select(col("node").as("src"), col("pr")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") / col("deg")).as("contrib"))
      val dang = pr.filter(col("dangling"))
        .agg(coalesce(sum(col("pr")), lit(0.0)).as("dang"))
      pr = nodesF
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          round(lit(1.0 - damping) / lit(n) +
            lit(damping) * (coalesce(col("contrib"), lit(0.0)) +
              col("dang") / lit(n)), 12).as("pr"),
          col("dangling"))
    }
    pr.select(col("node"), col("pr"))
  }

  /** Triangle census + global clustering coefficient over an undirected
    * graph — the degree-ordered node-iterator (Schank–Wagner; the
    * MapReduce formulation is Suri–Vassilvitskii '11): every edge is
    * oriented from its lower-(degree, label) endpoint to its higher one,
    * wedges are generated only at each triangle's LOWEST-ranked vertex
    * (two out-edges joined on their shared source), and closed by one
    * semi-join against the canonical edge set. The orientation is the
    * whole scale story: out-degree under degree ordering is O(√m), so
    * wedge fan-out is bounded by graph arboricity instead of by the
    * maximum degree — a star graph generates ZERO wedges at its hub.
    * Each triangle is counted exactly once (its two lowest-ranked
    * vertices are joined at the lowest; no orientation ever revisits it).
    *
    * Output (one row): n_nodes, n_edges, n_triangles, n_wedges
    * (Σ deg·(deg−1)/2 — unordered open+closed wedges), and the global
    * clustering coefficient 3·triangles/wedges.
    */
  def triangleStats(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull &&
        col("b").isNotNull)
      .distinct()
      .transform(Checkpoints.trackedEagerPinned) // reused 4×: degrees, orientation, probe, count
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
    // orient low-(deg, label) → high; (deg, label) is a total order
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("u"), col("b").as("w")))
        .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.u") === col("e2.u") &&
        col("e1.w") < col("e2.w"))
      .select(least(col("e1.w"), col("e2.w")).as("a"),
        greatest(col("e1.w"), col("e2.w")).as("b"))
    val tri = wedges.join(und, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val counts = und.agg(count(lit(1)).as("n_edges"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"))
    nodes.crossJoin(counts).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 4))
          .otherwise(lit(0.0)).as("global_clustering"))
  }
}
