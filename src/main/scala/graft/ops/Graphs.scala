package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting over an undirected edge list — the graph-shape
  * diagnostic for co-occurrence structures this repo builds everywhere
  * (basket item pairs, near-dup candidate pairs, session overlaps): a
  * dedup pair set rich in triangles means dense mirror-farms rather than
  * chains of twins, and an item graph's triangle count is the classic
  * clustering-coefficient numerator.
  *
  * Algorithm: degree-ordered orientation (the MapReduce-era standard from
  * Suri & Vassilvitskii's "Counting triangles and the curse of the last
  * reducer"). Orient every undirected edge from its lower-(degree, id)
  * endpoint to the higher one; every triangle then has exactly ONE node
  * with two out-edges (its minimum), so wedges built from co-out-edges
  * count each triangle once. Orientation caps out-degree at O(√m) even on
  * power-law graphs — the wedge join is Σ outdeg², which orientation turns
  * from "the hub explodes" into a balanced workload; that is precisely the
  * curse-of-the-last-reducer fix, and why this survives a 100 TB edge
  * list where the naive wedge-on-raw-degree join dies on the hottest key.
  *
  * Plan shape: one groupBy for degrees (broadcast back), one self-join on
  * the wedge apex, one semi-join of wedges against the oriented edge set.
  * All equi-joins — no quadratic surface anywhere.
  */
object Graphs {

  /** Per-node triangle participation counts. `edges` carries two long
    * columns (srcCol, dstCol), read as UNDIRECTED; duplicate edges and
    * self-loops are removed first. Output: (node, n_triangles), nodes in
    * no triangle omitted. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // localCheckpoint (the dupClusters pattern): the edge set is referenced
    // by the degree count, the orientation join, and the wedge-closing
    // membership join — without cutting lineage here, Catalyst would
    // replay the caller's whole edge-derivation pipeline (e.g. q150's
    // basket-pair build) once per reference.
    val canon = undirected(edges, srcCol, dstCol).localCheckpoint()
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // total order for orientation: (degree, id) — ties broken by id, so
    // the orientation is acyclic and deterministic
    val withDeg = canon
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
    // checkpointed too: both wedge legs (o1, o2) read it
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    // wedges at each apex: unordered pairs of out-neighbors
    val o1 = oriented.select(col("src").as("apex"), col("dst").as("u"))
    val o2 = oriented.select(col("src").as("apex"), col("dst").as("v"))
    val wedges = o1.join(o2, Seq("apex")).filter(col("u") < col("v"))
    // a wedge closes iff the (u, v) edge exists in the canonical set
    // (membership is orientation-free: canonical a<b matches u<v directly)
    val triangles = wedges.join(
      canon.withColumnRenamed("a", "u").withColumnRenamed("b", "v"),
      Seq("u", "v"))
    triangles
      .select(explode(array(col("apex"), col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** The canonical undirected edge set: (a, b) longs with a < b, self-loops
    * dropped. Unweighted, duplicate and reversed edges collapse to one;
    * with `weightCol`, only positive weights count and duplicates merge by
    * summing them into `w`. */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String] = None): DataFrame = {
    val ends = Seq(least(col(srcCol), col(dstCol)).cast("long").as("a"),
      greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
    weightCol match {
      case None =>
        edges.select(ends: _*).filter(col("a") =!= col("b")).distinct()
      case Some(w) =>
        edges.select(ends :+ col(w).cast("long").as("w"): _*)
          .filter(col("a") =!= col("b") && col("w") > 0)
          .groupBy("a", "b").agg(sum(col("w")).as("w"))
    }
  }

  /** The directed edge set: (src, dst) longs, self-loops dropped,
    * duplicates collapsed, checkpointed (every caller reads it more than
    * once). */
  private def directed(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()

  /** Every (a, b, …) row in both directions, as (src, dst, …). A row-local
    * explode, so the aggregate that built the rows (and the caller's edge
    * derivation under it) runs once; a union of the two directions would
    * run it once per branch — ReusedExchange shares the shuffle files,
    * not the reduce. */
  private def bothWays(e: DataFrame): DataFrame = {
    val rest = e.columns.toSeq.filterNot(Set("a", "b")).map(col)
    def dir(from: String, to: String) =
      struct(col(from).as("src") +: col(to).as("dst") +: rest: _*)
    e.select(explode(array(dir("a", "b"), dir("b", "a"))).as("_e"))
      .select("_e.*")
  }

  /** Symmetric (both-direction) edge list with self-loops dropped and
    * duplicates removed — the shared preamble of the iterative ops. */
  private def symmetric(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    bothWays(undirected(edges, srcCol, dstCol))

  /** The undirected rank loop of [[pageRank]] and [[pageRankWeighted]],
    * over a canonical (a, b, w) edge table:
    *
    * r_{t+1}(v) = (15·(SCALE div N)) div 100
    *            + (85 · Σ_{u~v} (r_t(u)·w_uv div W_u)) div 100
    *
    * with W_u = Σ weights at u. The weighted degree rides ON the
    * checkpointed symmetric edges (joined once, before the loop), and
    * symmetry gives every node an in-edge, so a round is ONE join of the
    * rank table onto those edges + ONE grouped sum, and `inflow` is never
    * null. Each round is checkpointed lazily, so round N never replans
    * rounds 1..N−1. */
  private def undirectedRank(canon: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val sym = bothWays(canon).localCheckpoint()
    val wdeg = sym.groupBy(col("src").as("node"))
      .agg(sum(col("w")).as("wdeg"))
    val symDeg = sym
      .join(wdeg.withColumnRenamed("node", "src"), "src")
      .localCheckpoint()
    val scale = 1000000000L
    val n = wdeg.count()
    if (n == 0) // no edges -> no nodes -> empty ranking, not a div-by-zero
      return wdeg.select(col("node"), lit(0L).as("rank_e9"))
    val init = scale / n
    val base = (15L * init) / 100L
    var ranks = wdeg.select(col("node"), lit(init).as("rank_e9"))
    (1 to iters).foreach { _ =>
      ranks = symDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr("rank_e9 * w div wdeg").as("share"))
        .groupBy("node").agg(sum(col("share")).as("inflow"))
        .select(col("node"),
          (lit(base) + expr("85L * inflow div 100")).as("rank_e9"))
        .localCheckpoint(eager = false)
    }
    ranks
  }

  /** PageRank over an UNDIRECTED edge list in exact fixed-point integer
    * arithmetic — node importance for co-occurrence graphs (which items /
    * domains / users sit at the network's center), engineered so two runs
    * on any partitioning, any engine, agree BIT FOR BIT: ranks live in
    * e9 integer units, every share is an integer floor division, and the
    * neighbor sum is an exact integer aggregate (a double PageRank's sum
    * order would drift in the last ulps across partitionings).
    *
    * r_{t+1}(v) = (15·(SCALE div N)) div 100
    *            + (85 · Σ_{u~v} (r_t(u) div deg(u))) div 100
    *
    * Floor divisions leak mass deterministically (total rank drifts a few
    * e-9 per round) — fine for ranking, which only needs ORDER. No
    * dangling nodes by construction (symmetric edges ⇒ deg ≥ 1).
    *
    * [[undirectedRank]] over the distinct edges at weight 1
    * (r·1 div deg ≡ r div deg): per round one keyed join of the rank
    * table onto the degree-annotated edges + one grouped sum. Fixed
    * `iters` rounds: deterministic, and an oracle can unroll them.
    * Output: (node, rank_e9). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 10): DataFrame =
    undirectedRank(undirected(edges, srcCol, dstCol).withColumn("w", lit(1L)),
      iters)

  /** [[pageRank]] with EDGE WEIGHTS (co-occurrence counts, interaction
    * strengths): each node's rank splits across its neighbors in
    * proportion to edge weight — share(u→v) = r_u·w_uv div W_u, with
    * W_u = Σ weights at u — in the same exact fixed-point integer
    * arithmetic (weights must be positive integers; duplicate input
    * edges merge by summing weight). [[undirectedRank]] over the
    * weight-merged edges, so unit weights reduce to [[pageRank]] exactly
    * (spec-pinned) and the per-round shape is the same. */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 10): DataFrame =
    undirectedRank(undirected(edges, srcCol, dstCol, Some(weightCol)), iters)

  /** PageRank over a DIRECTED edge list with dangling-node mass
    * redistribution and an optional personalization vector — the
    * web/citation/follower-graph form q171's undirected variant cannot
    * express (symmetric edges make dangling nodes impossible by
    * construction; real directed graphs are full of them — a page with no
    * outlinks, a cited-but-never-citing paper).
    *
    * Same exact fixed-point e9 integer arithmetic as [[pageRank]]:
    *
    * r_{t+1}(v) = (15·tele(v)) div 100
    *            + (85 · (Σ_{u→v} (r_t(u) div outdeg(u))
    *                     + (D_t · tele(v)) div SCALE)) div 100
    *
    * where D_t = Σ_{outdeg(u)=0} r_t(u) is the round's dangling mass and
    * tele(v) is the teleport allocation — SCALE div N uniform, or
    * (SCALE·w_v) div ΣW under a personalization frame (node, weight>0;
    * nodes absent from it get zero teleport AND zero dangling share, the
    * standard personalized-PageRank semantics). With symmetric input and
    * no personalization this reduces EXACTLY to [[pageRank]] (spec-pinned:
    * D_t ≡ 0 and tele ≡ init make the recurrences identical).
    *
    * Scale shape per round: the same keyed join + grouped sum as
    * [[pageRank]], plus one 1-row dangling-mass aggregate broadcast back
    * via crossJoin (the Anomaly stat-frame pattern — never a driver
    * collect in the loop). Fixed `iters`, oracle-unrollable. */
  def pageRankDirected(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 10, personalization: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = directed(edges, srcCol, dstCol)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct()
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    // (src, dst, outdeg(src)) — annotated ONCE, not joined per round
    // (the [[undirectedRank]] shape); every src has outdeg ≥ 1
    val eDeg = e
      .join(outdeg.withColumnRenamed("node", "src"), "src")
      .localCheckpoint()
    val scale = 1000000000L
    val n = nodes.count()
    if (n == 0)
      return nodes.select(col("node"), lit(0L).as("rank_e9"))
    // tele carries `dang`: whether the node has NO out-edges — computed
    // once here so the per-round dangling-mass aggregate is a filter on
    // the rank table instead of a second outdeg join every round
    val tele = (personalization match {
      case None => nodes.select(col("node"), lit(scale / n).as("tele_e9"))
      case Some(p) =>
        val w = p.select(col(p.columns(0)).cast("long").as("node"),
          col(p.columns(1)).cast("long").as("w"))
          .filter(col("w") > 0L)
        val wTot = w.agg(coalesce(sum("w"), lit(0L))).collect()(0).getLong(0)
        require(wTot > 0L, "personalization weights must sum > 0")
        // scale·w must fit a long: weights are proportions, so a loud
        // rescale demand beats silent overflow
        require(wTot <= 4000000000L,
          s"personalization weights sum to $wTot — rescale to <= 4e9")
        nodes.join(w, Seq("node"), "left")
          .select(col("node"),
            expr(s"${scale}L * coalesce(w, 0L) div ${wTot}L").as("tele_e9"))
    }).join(outdeg.select(col("node"), lit(false).as("__out")),
        Seq("node"), "left")
      .select(col("node"), col("tele_e9"),
        coalesce(col("__out"), lit(true)).as("dang"))
      .localCheckpoint()
    var ranks = tele.select(col("node"), col("tele_e9").as("rank_e9"),
      col("dang"))
    (1 to iters).foreach { _ =>
      val contrib = eDeg
        .join(ranks.select(col("node").as("src"), col("rank_e9")), "src")
        .select(col("dst").as("node"),
          expr("rank_e9 div outdeg").as("share"))
        .groupBy("node").agg(sum(col("share")).as("inflow"))
      // the round's dangling mass: one row, broadcast onto every node
      val dang = ranks.filter(col("dang"))
        .agg(coalesce(sum("rank_e9"), lit(0L)).as("dmass"))
      ranks = tele
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (expr("15L * tele_e9 div 100") +
            expr(s"85L * (coalesce(inflow, 0L) + dmass * tele_e9 div ${scale}L) div 100"))
            .as("rank_e9"),
          col("dang"))
        .localCheckpoint(eager = false)
    }
    ranks.select("node", "rank_e9")
  }

  /** Synchronous label propagation (LPA) over an undirected edge list —
    * community detection for the same co-occurrence graphs the rest of
    * this family diagnoses: which item/domain/user clusters form
    * natural modules (the linear-time alternative to modularity
    * optimization; Raghavan et al. 2007). Each node starts labeled with
    * its own id; every round, each node adopts the label carried by the
    * PLURALITY of its neighbors, ties broken to the smallest label —
    * fully deterministic (no random visit order, unlike classic
    * asynchronous LPA) and partition-order independent: the per-node
    * argmax is max over (count, −label) structs of exact integer counts.
    * Fixed `iters` rounds (synchronous LPA may oscillate on bipartite
    * structures rather than converge — a fixed-round contract makes the
    * output well-defined and lets the oracle unroll the recurrence).
    * A node's own current label does not vote; only neighbors do.
    *
    * Scale shape per round: one keyed join of the label table onto the
    * edge list + two grouped aggregates ((node, label) counts, then the
    * per-node argmax) — all equi-shuffles linear in edges, the q171
    * posture, localCheckpoint truncating lineage. Output: (node, label);
    * nodes sharing a label after N rounds are one community. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val sym = symmetric(edges, srcCol, dstCol).localCheckpoint()
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    (1 to iters).foreach { _ =>
      labels = sym
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(max(struct(col("cnt"), (-col("label")).as("negl"))).as("w"))
        .select(col("node"), (-col("w.negl")).as("label"))
        .localCheckpoint(eager = false)
    }
    labels
  }

  /** Deterministic HASH-WALKS: one `steps`-step walk from EVERY node of
    * the undirected graph — the DeepWalk/node2vec positive-pair sampler
    * re-engineered for a distributed, replayable engine: instead of RNG
    * (which no two engines or reruns share), step i out of node v picks
    * neighbor index md5(v # i # seed) mod outdeg(v) over the
    * (dst-ordered) adjacency — a fixed pseudo-random function, so the
    * "random" walks are bit-identical across engines, partitionings and
    * reruns, and an oracle can replay them join-for-join. Emits
    * (start, step, node) rows for steps 0..`steps`; pairs for embedding
    * training are any (start, node) selection downstream.
    *
    * Scale shape: the adjacency index is one per-src window over the
    * edge list (dst order); each step is ONE equi-join on (src, idx) —
    * `steps` joins total, frontier always |V| rows. No RNG state, no
    * driver involvement. */
  def hashWalks(edges: DataFrame, srcCol: String, dstCol: String,
      steps: Int, seed: Long = 0L): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val sym = symmetric(edges, srcCol, dstCol).localCheckpoint()
    val adj = sym.withColumn("idx",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("dst"))).cast("long") - 1L)
      .localCheckpoint()
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")).localCheckpoint()
    var frontier = deg.select(col("node").as("start"), col("node").as("cur"))
    var out = frontier.select(col("start"), lit(0L).as("step"),
      col("cur").as("node"))
    (1 to steps).foreach { i =>
      val pick = frontier
        .join(deg.withColumnRenamed("node", "cur"), "cur")
        .withColumn("__idx",
          pmod(conv(substring(md5(concat_ws("#",
            col("cur").cast("string"), lit(i.toString), lit(seed.toString))),
            1, 15), 16, 10).cast("long"), col("deg")))
      frontier = pick
        .join(adj, pick("cur") === adj("src") && pick("__idx") === adj("idx"))
        .select(pick("start"), adj("dst").as("cur"))
        .localCheckpoint(eager = false)
      out = out.unionByName(frontier.select(col("start"),
        lit(i.toLong).as("step"), col("cur").as("node")))
    }
    out
  }

  /** k-CORE decomposition by iterative peeling: the maximal subgraph
    * where every node keeps degree ≥ k — the dense-spam-farm /
    * mirror-clique detector a triangle count only hints at. Each round
    * recomputes degrees on the surviving subgraph and drops the nodes
    * below k; the true core is the fixpoint.
    *
    * `maxRounds` bounds the peel DETERMINISTICALLY: the operator's
    * contract is "the subgraph after `maxRounds` peels (or the fixpoint,
    * whichever comes first)", so a fixed-round oracle replays it exactly;
    * convergence short-circuits via the per-round count (one action per
    * round, the dupClusters posture). Peeling removes ≥1 node per
    * non-converged round, so maxRounds ≥ |V| always reaches the fixpoint.
    * Output: (node, deg) within the surviving subgraph. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 20): DataFrame = {
    require(k >= 1 && maxRounds >= 1,
      s"need k >= 1 and maxRounds >= 1, got k=$k maxRounds=$maxRounds")
    var sym = symmetric(edges, srcCol, dstCol).localCheckpoint()
    var edgeCount = sym.count()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val keep = sym.groupBy(col("src"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("__keep"))
      val next = sym
        .join(keep.withColumnRenamed("__keep", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("__keep", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst")
        .localCheckpoint(eager = false)
      // the ONE action of the round materializes the checkpoint and
      // doubles as the convergence check
      val after = next.count()
      converged = after == edgeCount
      edgeCount = after
      sym = next
      round += 1
    }
    sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** HITS hubs & authorities over a DIRECTED edge list — the two-sided
    * importance model PageRank cannot express: an authority is pointed
    * at by good hubs, a hub points at good authorities (citation
    * networks, link graphs, supplier→part bipartite structures). Exact
    * fixed-point integer arithmetic on the repo's e9 convention so runs
    * hash-compare on any engine/partitioning:
    *
    *   auth_{t}(v) = (Σ_{u→v} hub_{t−1}(u)) div max(1, T_a div 10⁹)
    *   hub_{t}(u)  = (Σ_{u→v} auth_{t}(v))  div max(1, T_h div 10⁹)
    *
    * with T the round's raw total — L1 normalization as two nested floor
    * divisions (the only cross-engine-safe form; a float norm would
    * drift in the last ulp). Normalized scores stay ~≤ 10⁹, raw sums
    * ≤ |E|·10⁹ — exact to ~10⁹ edges, plenty past any single cluster's
    * graph. Nodes with no in-edges hold authority 0; no out-edges, hub 0.
    *
    * Scale shape per round: two keyed join+aggregate passes (the same
    * shuffle shape as [[pageRank]]) plus two broadcast 1-row totals;
    * localCheckpoint cuts lineage per round; fixed `iters` rounds so an
    * oracle can unroll the recurrence. Output: (node, hub_e9, auth_e9). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = directed(edges, srcCol, dstCol)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val scale = 1000000000L
    // SPARSE rounds: scores are carried only for nodes where they can be
    // nonzero (auth: nodes WITH in-edges; hub: nodes WITH out-edges) — a
    // zero score joins into the next half-round's sum as nothing, so
    // dropping the row is exact and no half-round needs a full-node-list
    // backfill join. Zero-fill happens ONCE, in the final assembly below.
    def normalize(raw: DataFrame, out: String): DataFrame = {
      val t = raw.agg(sum("raw").as("t"))
      raw.crossJoin(broadcast(t))
        .select(col("node"),
          expr(s"raw div greatest(1L, t div ${scale}L)").as(out))
        .localCheckpoint(eager = false)
    }
    var hub = nodes.select(col("node"), lit(scale).as("hub_e9"))
    var auth = nodes.select(col("node"), lit(0L).as("auth_e9"))
    (1 to iters).foreach { _ =>
      auth = normalize(
        e.join(hub.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node")).agg(sum("hub_e9").as("raw")),
        "auth_e9")
      hub = normalize(
        e.join(auth.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node")).agg(sum("auth_e9").as("raw")),
        "hub_e9")
    }
    nodes.join(hub, Seq("node"), "left").join(auth, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub_e9"), lit(0L)).as("hub_e9"),
        coalesce(col("auth_e9"), lit(0L)).as("auth_e9"))
  }

  /** Hop-bounded WEIGHTED shortest paths from a seed set — the
    * relaxation loop of this family ([[bfsDistances]] is it at unit
    * weight): min total weight over paths of ≤ `maxHops` edges, i.e.
    * exactly `maxHops` rounds of Bellman–Ford relaxation, in the FRONTIER
    * form (only nodes whose cost improved last round re-expand — on a
    * saturating graph later rounds touch a shrinking set, and the loop
    * early-stops when nothing improves). Exact long costs, so results
    * hash-compare; weights must be ≥ 0 (raise_error in-plan — a negative
    * weight under a hop bound silently stops meaning "shortest").
    * Parallel edges keep the cheapest; `directed` follows src→dst only,
    * the default reads the edge list as undirected.
    *
    * Per round: one keyed equi-join (frontier × adjacency) + a per-dst
    * min + a join against the settled cost table keeping strict
    * improvements; the settled table is checkpointed so round N never
    * replays rounds 1..N−1. Round count is the hop bound — the caller's
    * radius, not the graph diameter. Output: (node, cost). */
  def shortestPathsBounded(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, sources: DataFrame,
      sourceCol: String, maxHops: Int,
      directed: Boolean = false): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val checkedW = when(col(weightCol).cast("long") < 0L,
      raise_error(concat(lit("negative edge weight: "),
        col(weightCol).cast("string"))))
      .otherwise(col(weightCol).cast("long"))
    val oneWay = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"), checkedW.as("w"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(min("w").as("w"))
    val adj = (if (directed) oneWay.toDF("src", "dst", "w")
      else bothWays(oneWay)).localCheckpoint()
    var dist = sources.select(col(sourceCol).cast("long").as("node"))
      .distinct()
      .select(col("node"), lit(0L).as("cost"))
      .localCheckpoint()
    var frontier = dist
    var r = 1
    var exhausted = false
    while (r <= maxHops && !exhausted) {
      val cand = adj
        .join(frontier.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(min(col("cost") + col("w")).as("__c"))
      val improved = cand
        .join(dist, Seq("node"), "left")
        .filter(col("cost").isNull || col("__c") < col("cost"))
        .select(col("node"), col("__c").as("cost"))
        .localCheckpoint() // the round's one action; also the stop probe
      if (improved.isEmpty) exhausted = true
      else {
        dist = dist.join(improved.select("node"), Seq("node"), "left_anti")
          .unionAll(improved)
          .localCheckpoint(eager = false)
        frontier = improved
      }
      r += 1
    }
    dist
  }

  /** Multi-source BFS hop distances: for every node reachable within
    * `maxHops` of ANY source, the minimum hop count — the reach/blast-
    * radius primitive (how far does an item's influence extend, which
    * docs sit within 2 links of known-bad seeds, lineage impact over
    * arbitrary edge tables). Exact small integers, so results
    * hash-compare on any engine or partitioning.
    *
    * [[shortestPathsBounded]] at unit weight, `cost` read as `dist`: with
    * every edge costing 1, a settled node never improves, so each round's
    * frontier is exactly the nodes FIRST reached that round, and the loop
    * stops early when a frontier empties. Per round one keyed equi-join
    * (frontier × edges) + a join onto the checkpointed settled table —
    * never a |V|×|V| surface, never a driver-side collect. Rounds are
    * linear in `maxHops`; for unbounded all-pairs reachability use the
    * path-doubling closure (`Lineage.closure`), which is logarithmic.
    *
    * `directed` follows edges src→dst only; default treats the edge list
    * as undirected (the basket/co-occurrence reading). Sources absent
    * from the graph still report dist 0 — the caller's seed list is the
    * contract, reachability is what's being measured. */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, sourceCol: String, maxHops: Int,
      directed: Boolean = false): DataFrame =
    shortestPathsBounded(edges.withColumn("__hop", lit(1L)), srcCol, dstCol,
      "__hop", sources, sourceCol, maxHops, directed)
      .withColumnRenamed("cost", "dist")
}
