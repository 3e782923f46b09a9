package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-centrality operators over the relational fixture tables —
  * the quality-weighting member of the training-data pipeline
  * surface: a web-crawl corpus weights documents by the link-graph
  * centrality of their host (Common-Crawl-style harmonic/PageRank
  * weighting), and the same iterate-until-k fixed-point shape powers
  * label propagation and hub detection. The fixture stand-in graph is
  * the customer↔supplier co-purchase graph (an edge per distinct
  * customer–supplier pair observed in lineitem×orders), symmetric so
  * every node has both in- and out-degree — no dangling-mass term.
  *
  * Scale design (100 TB): the edge list is built once (one
  * distinct-shuffle), partitioned on `src` and PERSISTED — every
  * iteration's rank⋈edge join then reuses that exchange, shuffling
  * only the (node, rank) frame, which is |V| rows against the edge
  * list's |E| (|V| ≪ |E| on any real graph). Contribution sums are
  * partial-aggregated map-side before the `dst` exchange. The
  * iteration count is a fixed constant, so the lineage stays a
  * k-deep join tree — no driver-side loop over collected data, no
  * checkpoint needed at k = 3. The DIRECTED kernel
  * ([[Graph.pageRankDirected]]) carries the three things a real web
  * graph adds: a dangling-mass term, delta-based early stop, and
  * periodic checkpointing for deep k.
  */
object Graph {

  /** PageRank damping factor (the classic 0.85) and its complement —
    * the complement is computed HERE once so the Spark plan and the
    * DuckDB oracle interpolate the bit-identical double. */
  val Damping = 0.85
  val OneMinusDamping: Double = 1 - Damping

  /** Fixed iteration count of the graded query (q99). */
  val PageRankIters = 3

  /** Node encoding: customers at custkey·2, suppliers at suppkey·2+1
    * — one LONG key space, no string concat in the shuffle key. */
  private def cNode(custkey: Column): Column = custkey * 2
  private def sNode(suppkey: Column): Column = suppkey * 2 + 1

  /** Symmetric co-purchase edge list: one edge pair per DISTINCT
    * (customer, supplier) relationship in lineitem×orders. Both
    * directions come out of ONE explode over the co-purchase frame —
    * a union of two selects would evaluate the join+distinct twice. */
  def coPurchaseEdges(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val co = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    co.select(explode(array(
        struct(cNode(col("c")).as("src"), sNode(col("s")).as("dst")),
        struct(sNode(col("s")).as("src"), cNode(col("c")).as("dst"))))
        .as("e"))
      .select(col("e.src"), col("e.dst"))
  }

  /** PageRank over the co-purchase graph, [[PageRankIters]] synchronous
    * iterations from the uniform vector:
    *
    *   r₀(v)    = 1 / N
    *   rₖ₊₁(v) = (1 − d)/N + d · Σ_{u→v} rₖ(u) / deg(u)
    *
    * Output: (node_type 'c'|'s', key, rank) — one row per node, ranks
    * summing to 1 (symmetric graph, no dangling mass), rounded to
    * [[RankRoundDigits]] in both engines so the graded compare is
    * robust to double summation order. */
  def pageRank(lineitem: DataFrame, orders: DataFrame): DataFrame =
    pageRankWithHandle(lineitem, orders)._1

  /** [[pageRank]] plus the [[graft.util.CacheHandle]] releasing the
    * persisted (src, dst, deg) edge frame and the degree frame the
    * iterations share. */
  def pageRankWithHandle(lineitem: DataFrame,
      orders: DataFrame): (DataFrame, graft.util.CacheHandle) = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // edge frame persisted at its src partitioning: deg and ew both
    // read the cache, so the lineitem⋈orders build runs exactly once
    val edges = coPurchaseEdges(lineitem, orders)
      .repartition(col("src")).persist(level)
    // deg (|V| rows) is referenced by every iteration's node frame
    // and the N scalar — persisted, or each reference would re-run
    // the whole edge build
    val deg = edges.groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("deg")).persist(level)
    // (src, dst, deg): the per-iteration join input, shuffled once
    val ew = edges.join(deg, "src").persist(level)
    val nodes = deg.select(col("src").as("node"))
    // broadcast-scalar N: every row needs it; never a driver collect
    val nRow = broadcast(deg.agg(count(lit(1)).cast("long").as("n")))

    var ranks = nodes.crossJoin(nRow)
      .select(col("node"), (lit(1.0) / col("n")).as("rank"))
    for (_ <- 1 to PageRankIters) {
      val contrib = ew
        .join(ranks, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("rank") / col("deg")).as("mass"))
      ranks = nodes.crossJoin(nRow)
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(OneMinusDamping) / col("n") +
            lit(Damping) * coalesce(col("mass"), lit(0.0))).as("rank"))
    }
    (ranks.select(
      when(col("node") % 2 === 0, "c").otherwise("s").as("node_type"),
      expr("node DIV 2").as("key"),
      round(col("rank"), RankRoundDigits).as("rank")),
      graft.util.CacheHandle(ew, deg, edges))
  }

  /** Directed-kernel knobs (q104): iteration count (deep enough that
    * lineage control is a real concern — the checkpoint cadence
    * exists for it), checkpoint cadence, and the decimal scale BOTH
    * engines round the output ranks to. The rounding is the graded
    * compare's robustness contract: SUM(rank/deg) accumulates in
    * partition-arrival order in Spark and in DuckDB's own order, and
    * k chained iterations compound low-order-bit differences — pinned
    * constants make the inputs identical, rounding makes the compare
    * independent of summation order (differences live at ~1e-16
    * relative, 4 decades below the 1e-12 rounding grain). */
  val DirectedIters = 10
  val CheckpointEvery = 5
  val RankRoundDigits = 12

  /** Delta threshold of [[pageRankDirected]]'s OPTIONAL early stop.
    * The graded q104 runs tol = 0 (never stops early — the oracle
    * unrolls a fixed iteration count); production convergence runs
    * pass a real tolerance and stop when max |rₖ₊₁ − rₖ| < tol
    * (spec-pinned equivalent to running exactly the stopped-at
    * iteration count). */
  val DefaultTol = 0.0

  /** DIRECTED co-purchase edges: customer → supplier only — the
    * direction purchases actually point. Suppliers then have no
    * out-edges, so the graph has genuine dangling mass (every
    * supplier is a sink), exercising the term the symmetric q99
    * graph never needs. */
  def directedEdges(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(cNode(col("o_custkey")).as("src"),
        sNode(col("l_suppkey")).as("dst"))
      .distinct()

  /** PageRank over an arbitrary DIRECTED edge list with dangling-mass
    * redistribution:
    *
    *   rₖ₊₁(v) = (1−d)/N + d·(Σ_{u→v} rₖ(u)/outdeg(u) + Dₖ/N)
    *
    * where Dₖ = Σ_{outdeg(u)=0} rₖ(u) — sink mass respread uniformly,
    * the standard web-graph correction that keeps Σ rank = 1 (without
    * it a directed graph leaks mass every iteration and ranks decay
    * toward (1−d)/N).
    *
    * Scale design (100 TB): same discipline as [[pageRankWithHandle]]
    * — the edge frame is shuffled onto `src` ONCE and persisted,
    * every iteration moves only the |V|-row rank vector, contribution
    * sums partial-aggregate map-side. N is read once as a bounded
    * driver scalar (one count of the |V|-row node frame); Dₖ is the
    * per-iteration one-row scalar — a filter-sum over the cached rank
    * vector's own sink flag, no join — brought to the driver under
    * the BPE-argmax contract: that job doubles as the round's
    * materializing action on the persisted rank vector, so each
    * iteration executes exactly once and the superseded vector's
    * cache releases immediately. Lineage control for deep k: every
    * `checkpointEvery` iterations the rank frame checkpoints —
    * reliable `checkpoint()` when `checkpointDir` is set (survives
    * executor loss; the q42 convention), `localCheckpoint()`
    * otherwise — and the superseded checkpoint is released
    * explicitly. With `tol > 0`, iteration stops once
    * max |rₖ₊₁ − rₖ| < tol (one extra one-row aggregate per
    * iteration, the BPE-argmax driver contract); `onRound` sees
    * (iteration, delta) with delta = NaN when tol = 0. */
  def pageRankDirectedWithHandle(edges0: DataFrame,
      iters: Int = DirectedIters, tol: Double = DefaultTol,
      checkpointEvery: Int = CheckpointEvery,
      checkpointDir: Option[String] = None,
      onRound: (Int, Double) => Unit = (_, _) => ())
      : (DataFrame, graft.util.CacheHandle) = {
    import org.apache.spark.sql.graft.Bridge
    val sc = edges0.sparkSession.sparkContext
    val previousCheckpointDir = sc.getCheckpointDir
    checkpointDir.foreach(sc.setCheckpointDir)
    try {
      val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      def chk(df: DataFrame): DataFrame =
        if (checkpointDir.isDefined) df.checkpoint()
        else df.localCheckpoint()
      val edges = edges0.repartition(col("src")).persist(level)
      val deg = edges.groupBy(col("src"))
        .agg(count(lit(1)).cast("long").as("deg")).persist(level)
      val ew = edges.join(deg, "src").persist(level)
      // node frame carries its sink flag so the per-round Dₖ
      // aggregate is a filter over the cached rank vector instead of
      // a join against a separate dangling set
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node")))
        .distinct()
        .join(deg.select(col("src").as("node"), lit(true).as("has_out")),
          Seq("node"), "left")
        .select(col("node"),
          coalesce(col("has_out"), lit(false)).as("has_out"))
        .persist(level)
      // N once as a bounded driver scalar (the same one-row contract
      // as Dₖ) — a per-round broadcast frame re-executed its one-row
      // aggregate inside every iteration's plan
      val n = nodes.count()
      var ranks = nodes
        .select(col("node"), col("has_out"),
          (lit(1.0) / lit(n)).as("rank"))
        .persist(level)
      var ranksIsChk = false
      // superseded persisted rank frame — released only after the
      // round built on it has materialized, so every iteration's join
      // reads its predecessor cache-hot
      var doomed: DataFrame = null
      var prevChk: DataFrame = null
      var iter = 0
      var converged = false
      // round loop under the harness-declared loop-partition scope
      // (BatchScale: the |V|-row rank vector is kilobytes at bench
      // scale; builds above keep the session's parallelism)
      graft.util.BatchScale.withLoopPartitions(edges0.sparkSession) {
      while (iter < iters && !converged) {
        // Dₖ as an eager one-row scalar (the BPE-argmax driver
        // contract): the job that computes it is ALSO the round's
        // materializing action, populating rₖ's cache so each
        // iteration's join work executes exactly once. The earlier
        // lazy broadcast-frame Dₖ deferred all execution to the
        // checkpoint, and each round's Dⱼ subquery then re-executed
        // the whole since-checkpoint lineage — a recompute cascade
        // quadratic in the checkpoint cadence (measured 150 s at the
        // 10× k=10 ladder rung; linear after this fix)
        val dmVal = ranks.filter(!col("has_out"))
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
          .head().getDouble(0)
        // rₖ is materialized now — its predecessor's cache can go
        if (doomed != null) { doomed.unpersist(); doomed = null }
        val contrib = ew
          .join(ranks.select(col("node"), col("rank")),
            col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(sum(col("rank") / col("deg")).as("mass"))
        var next = nodes
          .join(contrib, col("node") === col("dst"), "left")
          .select(col("node"), col("has_out"),
            (lit(OneMinusDamping) / lit(n) + lit(Damping) *
              (coalesce(col("mass"), lit(0.0)) + lit(dmVal) / lit(n)))
              .as("rank"))
        iter += 1
        // a checkpoint landing on the FINAL round buys nothing — its
        // only purpose is truncating lineage for rounds that never
        // come; skipping it saves the staged count + file write and
        // the caller's action reads the persisted round directly
        if (iter % checkpointEvery == 0 && iter < iters) {
          // persist-before-checkpoint: the reliable variant's file
          // write is a SECOND job over the round's plan unless it
          // reads a populated cache; localCheckpoint materializes
          // internally and needs no staging
          val staged = if (checkpointDir.isDefined) {
            val p = next.persist(level); p.count(); p
          } else next
          // checkpoint() is eager — the superseded round's blocks or
          // files release NOW, not at ContextCleaner GC (q42 pattern)
          val c = chk(staged)
          if (checkpointDir.isDefined) staged.unpersist()
          if (prevChk != null) Bridge.releaseCheckpoint(prevChk)
          prevChk = c
          next = c
          if (!ranksIsChk) doomed = ranks
          ranksIsChk = true
        } else {
          // rₖ₊₁ materializes at the next round's Dₖ job (or, on the
          // final round, at the caller's action — `doomed` then rides
          // out in the release handle)
          next = next.persist(level)
          if (!ranksIsChk) doomed = ranks
          ranksIsChk = false
        }
        var delta = Double.NaN
        if (tol > 0) {
          delta = next
            .join(ranks.select(col("node"), col("rank").as("prev")),
              "node")
            .agg(max(abs(col("rank") - col("prev")))).head().getDouble(0)
          if (doomed != null) { doomed.unpersist(); doomed = null }
          if (delta < tol) converged = true
        }
        onRound(iter, delta)
        ranks = next
      }
      } // withLoopPartitions
      // checkpointed frames must NOT go in the handle — unpersisting a
      // localCheckpoint destroys truncated-lineage data, and reliable
      // checkpoint files are reclaimed with the checkpoint dir
      val handleFrames = Seq(ew, deg, edges, nodes) ++
        (if (!ranksIsChk) Seq(ranks) else Nil) ++
        (if (doomed != null) Seq(doomed) else Nil)
      (ranks.select(col("node"), col("rank")),
        graft.util.CacheHandle(handleFrames: _*))
    } finally if (checkpointDir.isDefined)
      previousCheckpointDir.foreach(sc.setCheckpointDir)
  }

  /** [[pageRankDirectedWithHandle]] without the handle. */
  def pageRankDirected(edges: DataFrame, iters: Int = DirectedIters,
      tol: Double = DefaultTol,
      checkpointEvery: Int = CheckpointEvery,
      checkpointDir: Option[String] = None): DataFrame =
    pageRankDirectedWithHandle(edges, iters, tol, checkpointEvery,
      checkpointDir)._1

  /** Documents weighted by the link-graph centrality of their host
    * (q104) — the Common-Crawl-style quality weight: PageRank over
    * the DIRECTED co-purchase graph ([[directedEdges]], dangling mass
    * live since every supplier is a sink, [[DirectedIters]]
    * iterations, checkpointed every [[CheckpointEvery]]), supplier
    * nodes taken as the host set, and every document assigned a host
    * by the library's standard Knuth-hash arithmetic
    * ([[Sampling.mixed]] mod host count — the q32/q44 derivation)
    * through a dense host index so each document maps to an EXISTING
    * host whatever the key distribution. Output: one row per document
    * with its host and the host's rounded rank
    * ([[RankRoundDigits]]).
    *
    * Scale: ranks/hosts are |V|-sized and broadcast into the
    * document join — the corpus-sized side never shuffles. The dense
    * host index is a row_number over the host table (single-partition
    * window, fine for a host-cardinality frame; the q57 prefix-sum
    * operator is the swap-in if the host table ever rivals the
    * corpus). */
  def hostQualityWeights(docs: DataFrame, lineitem: DataFrame,
      orders: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    val ranks = pageRankDirected(directedEdges(lineitem, orders),
      checkpointDir = checkpointDir)
    val hostRanks = ranks.filter(col("node") % 2 === 1)
      .select(expr("node DIV 2").as("host_key"),
        round(col("rank"), RankRoundDigits).as("host_rank"))
    val hosts = hostRanks.select(col("host_key"),
      (row_number().over(Window.orderBy(col("host_key"))) - 1)
        .cast("long").as("idx"))
    val hRow = broadcast(hosts.agg(count(lit(1)).cast("long").as("h")))
    docs.crossJoin(hRow)
      .select(col("doc_id"),
        (Sampling.mixed("doc_id") % col("h")).as("idx"))
      .join(broadcast(hosts), "idx")
      .join(broadcast(hostRanks), "host_key")
      .select(col("doc_id"), col("host_key"), col("host_rank"))
  }

  /** Per-node triangle counts + local clustering coefficient over
    * the MUTUAL k-NN graph (q132) — the community-structure profile
    * of an embedding corpus: a node whose neighbors are also
    * neighbors of each other sits inside a dense semantic cluster
    * (SemDedup territory), a zero-lcc node is a hub stitching
    * unrelated regions (the q124 graph-walk's long-range links).
    * Input is the [[Similarity.knnGraph]] edge frame; an undirected
    * edge is kept iff BOTH directed top-k edges exist (mutual-kNN,
    * the standard symmetrization that prunes asymmetric hub edges).
    *
    * Scale design (100 TB): triangle enumeration by DEGREE-ORDERED
    * orientation (the Schank/Wagner "forward" algorithm, the shape
    * every distributed triangle counter uses): each undirected edge
    * is oriented from its lower-(degree, id) endpoint to the higher,
    * making the orientation a DAG whose max out-degree is O(√m) on
    * any graph — so the wedge self-join on the shared source fans
    * out Σ outdeg² ≤ m·√m pairs instead of Σ deg² (which a hub makes
    * quadratic), and each triangle is generated exactly once at its
    * lowest-rank vertex (no ÷6 dedup pass, no all-pairs anywhere).
    * The wedge frame joins the oriented edge list once to close
    * triangles; per-node counts are one explode + map-side-combined
    * groupBy. The mutual-edge frame and the degree table are
    * persisted (each feeds two consumers); everything shuffles on
    * node/edge keys only — vectors never enter this operator.
    *
    * lcc = 2·T(v) / (deg(v)·(deg(v)−1)) computed with the identical
    * literal/operand order in the DuckDB mirror and rounded to
    * [[RankRoundDigits]] (q99 compare discipline); degree-1 nodes
    * (no possible wedge) emit 0.0. */
  /** Mutual-kNN symmetrization shared by [[triangleCounts]] and
    * [[kCore]]: an undirected edge (u < v) survives iff BOTH
    * directed top-k edges exist — one distinct-shuffle intersect,
    * the standard pruning of asymmetric hub edges. */
  def mutualEdges(knnEdges: DataFrame): DataFrame = {
    val e0 = knnEdges.select(col("src"), col("neighbor_id").as("dst"))
    val rev = e0.select(col("dst").as("src"), col("src").as("dst"))
    e0.intersect(rev)
      .filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
  }

  /** Node degrees of an undirected (u, v) edge frame — one explode +
    * map-side-combined groupBy. */
  def degreesOf(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("u"), col("v"))).as("node_id"))
      .groupBy(col("node_id")).agg(count(lit(1)).as("degree"))

  /** Minimum common-neighbor support of [[adamicAdar]] — one shared
    * neighbor is noise on a k-NN graph; candidate links need ≥ 2. */
  val AdamicAdarMinCommon = 2

  /** Adamic–Adar link prediction over the k-NN graph (q202) — the
    * classic "which non-edges should exist?" score, the graph-side
    * twin of the similarity family's candidate generation: for every
    * 2-hop non-adjacent pair (u, w), AA(u,w) = Σ_{v ∈ Γ(u)∩Γ(w)}
    * 1/ln(deg v) — common neighbors weighted by how DIScriminating
    * they are (a hub vouches for everyone and counts for little).
    * On a k-NN embedding graph this surfaces near-duplicate and
    * same-cluster pairs the banded construction missed — a recall
    * patch that needs no second LSH pass. A common neighbor is
    * adjacent to both endpoints, so deg(v) ≥ 2 and ln(deg) > 0 — the
    * division is total by construction. The per-pair sum folds over
    * the common-neighbor list SORTED by neighbor id (the ordered-fold
    * FP discipline), so the score is bit-identical across engines and
    * partitionings.
    *
    * Scale design (100 TB): the undirected closure has ≤ 2k
    * edges/node, the 2-hop frame ≤ (2k)² rows/node (bounded fan-out,
    * never all-pairs), existing edges leave via one co-partitioned
    * LEFT ANTI join, degrees broadcast back onto the v key, and the
    * pair aggregation is one map-side-combined shuffle on (u, w);
    * the u < w orientation halves the frame before anything heavy. */
  def adamicAdar(knnEdges: DataFrame,
      minCommon: Int = AdamicAdarMinCommon): DataFrame = {
    val e0 = knnEdges.select(col("src"), col("neighbor_id").as("dst"))
    val und = e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = und.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("deg"))
    val hop2 = und.alias("a").join(und.alias("b"),
        col("a.dst") === col("b.src") && col("a.src") < col("b.dst"))
      .select(col("a.src").as("u"), col("b.dst").as("w"),
        col("a.dst").as("v"))
    val nonEdge = hop2.join(
      und.select(col("src").as("u"), col("dst").as("w")),
      Seq("u", "w"), "left_anti")
    nonEdge.join(deg, "v")
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("cn_count"),
        aggregate(
          sort_array(collect_list(struct(col("v"),
            (lit(1.0) / log(col("deg").cast("double"))).as("s")))),
          lit(0.0), (acc, x) => acc + x.getField("s")).as("aa_score"))
      .filter(col("cn_count") >= minCommon)
  }

  def triangleCounts(knnEdges: DataFrame): DataFrame = {
    val mutual = mutualEdges(knnEdges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = degreesOf(mutual)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val du = deg.select(col("node_id").as("u"), col("degree").as("du"))
    val dv = deg.select(col("node_id").as("v"), col("degree").as("dv"))
    // orient from lower (degree, id) to higher; carry the head's
    // degree so wedge endpoints can be ordered by the SAME total
    // order without re-joining the degree table
    val oriented = mutual.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("d"), col("dv").as("dd")))
          .otherwise(
            struct(col("v").as("s"), col("u").as("d"), col("du").as("dd")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"), col("e.dd").as("dd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val o1 = oriented.select(col("s"), col("d").as("d1"), col("dd").as("dd1"))
    val o2 = oriented.select(col("s"), col("d").as("d2"), col("dd").as("dd2"))
    val wedges = o1.join(o2, "s")
      .filter(col("dd1") < col("dd2") ||
        (col("dd1") === col("dd2") && col("d1") < col("d2")))
      .select(col("s"), col("d1"), col("d2"))
    val closing = oriented.select(col("s").as("d1"), col("d").as("d2"))
    val tris = wedges.join(closing, Seq("d1", "d2"))
      .select(col("s").as("a"), col("d1").as("b"), col("d2").as("c"))
    val tcounts = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node_id"))
      .groupBy(col("node_id")).agg(count(lit(1)).as("triangles"))
    deg.join(tcounts, Seq("node_id"), "left")
      .select(col("node_id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), RankRoundDigits))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** HITS iteration count (q144). */
  val HitsIters = 2

  /** HITS hubs & authorities over the DIRECTED co-purchase graph
    * (q144, Kleinberg 1999) — the second classic centrality after
    * PageRank, and the one that separates the two sides of a
    * bipartite-ish graph: a(v) = Σ_{u→v} h(u) then h(u) = Σ_{u→v}
    * a(v) per iteration. Scores start at 1 and are deliberately NOT
    * normalized: every update is then a sum of INTEGER-valued terms,
    * so hub/authority stay exact BIGINTs — order-independent
    * summation, bit-identical in both engines with no rounding step
    * (the q99 round-12 discipline exists to absorb double summation
    * order; integer HITS needs none). Rankings are normalization-
    * invariant; production HITS at high k normalizes per iteration
    * and would switch to the q99 rounded-double compare (int64 has
    * headroom for k = [[HitsIters]] at ~avg-degree^k growth, not for
    * deep k on a web graph — documented bound).
    *
    * Scale design (100 TB): edge frame persisted once; each
    * iteration moves only the |V|-row score vector through
    * map-side-combined sums (the q99 shape), localCheckpointed per
    * round (each score frame feeds the next update AND the output —
    * the q131/q141 lineage rule). */
  def hits(edges0: DataFrame, iters: Int = HitsIters): DataFrame = {
    val edges = edges0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var h = nodes.select(col("node"), lit(1L).as("hub"))
    var a = nodes.select(col("node"), lit(0L).as("auth"))
    var i = 0
    // round loop under the harness loop-partition scope (BatchScale)
    graft.util.BatchScale.withLoopPartitions(edges0.sparkSession) {
    while (i < iters) {
      val hs = h.select(col("node").as("src"), col("hub"))
      val aOld = a
      a = nodes.join(
          edges.join(hs, "src").groupBy(col("dst"))
            .agg(sum(col("hub")).as("auth"))
            .withColumnRenamed("dst", "node"),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("auth"), lit(0L)).as("auth"))
        .localCheckpoint()
      // previous round's auth vector is read by nothing past this
      // point (only the FINAL a joins the output) — release it
      // (no-op on the round-0 non-checkpoint initializer)
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(aOld)
      val as = a.select(col("node").as("dst"), col("auth"))
      val hOld = h
      h = nodes.join(
          edges.join(as, "dst").groupBy(col("src"))
            .agg(sum(col("auth")).as("hub"))
            .withColumnRenamed("src", "node"),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub"))
        .localCheckpoint()
      // same for the hub vector this round's auth update consumed
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(hOld)
      i += 1
    }
    } // withLoopPartitions
    h.join(a, "node").select(col("node"), col("hub"), col("auth"))
  }

  /** Top-degree order statistics used by the Hill estimator of
    * [[degreeProfile]] (q148). */
  val HillK = 100

  /** Degree profile + Hill power-law tail estimate of the mutual
    * k-NN graph (q148) — the graph-shape diagnostic read before any
    * centrality/community run: node/edge counts, degree extremes,
    * and the Hill estimator α̂ = 1 + k / Σᵢ ln(dᵢ/d₍ₖ₎) over the top
    * [[HillK]] degrees (the standard MLE for the tail exponent; a
    * small α̂ = heavy hub tail = salting/orientation needed
    * downstream, large α̂ = homogeneous degrees — on a mutual-kNN
    * graph the cap at k makes the tail shallow BY CONSTRUCTION,
    * which is exactly what the operator verifies).
    *
    * Determinism: degrees are exact integers; the top-k order
    * statistics come through [[TextAnalysis.globalTopK]]'s bounded
    * per-partition heaps (node count is CORPUS-sized for a mutual
    * k-NN graph, so the degree frame is never single-partition
    * ranked) under a (degree DESC, node ASC) total order, and the k
    * log-terms fold SEQUENTIALLY in that same order (q103
    * ordered-fold pattern: sort_array + aggregate ≡
    * list(ORDER BY) + list_reduce), so α̂ is bit-identical in the
    * mirror with no rounding.
    *
    * Scale design (100 TB): one map-side-combined degree
    * aggregation; extremes and counts are constant-size reductions;
    * only k rows reach the fold. */
  def degreeProfile(knnEdges: DataFrame, k: Int = HillK): DataFrame =
    degreeProfileWithHandle(knnEdges, k)._1

  /** [[degreeProfile]] plus the [[graft.util.CacheHandle]] releasing
    * the persisted degree frame (read twice: totals + top-k heap). */
  def degreeProfileWithHandle(knnEdges: DataFrame, k: Int = HillK)
      : (DataFrame, graft.util.CacheHandle) = {
    val deg = degreesOf(mutualEdges(knnEdges))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("degree")) / 2).cast("long").as("n_edges"),
      min(col("degree")).as("min_degree"),
      max(col("degree")).as("max_degree"))
    val topk = TextAnalysis.globalTopK(deg,
        Seq("degree" -> false, "node_id" -> true), k)
      .withColumnRenamed("rank", "rk")
    val hill = topk
      .agg(sort_array(collect_list(struct(col("rk"), col("degree"))))
        .as("a"))
      .select(
        size(col("a")).cast("long").as("hill_k"),
        element_at(col("a"), -1).getField("degree").as("dk"),
        col("a"))
      .select(col("hill_k"), col("dk"),
        aggregate(col("a"), lit(0.0),
          (acc, s) => acc + log(s.getField("degree")
            .cast("double") / col("dk"))).as("logsum"))
      // a degree-capped graph (mutual-kNN: every top degree = the
      // cap) has log-sum 0 — the tail exponent is undefined, NULL
      .select(col("hill_k"), col("dk"),
        when(col("logsum") > 0.0,
          lit(1.0) + col("hill_k") / col("logsum"))
          .otherwise(lit(null).cast("double")).as("hill_alpha"))
    (totals.crossJoin(broadcast(hill)), graft.util.CacheHandle(deg))
  }

  /** Core order and peel-round bound of the graded [[kCore]] query
    * (q141). [[KCoreRounds]] is a fixed unroll depth — the oracle
    * mirrors round-for-round — chosen past the fixture's observed
    * fixpoint; GraphSpec proves one more peel changes nothing. */
  val KCoreK = 3
  val KCoreRounds = 8

  /** k-core of the mutual k-NN graph (q141) — the degeneracy view of
    * corpus community structure: iteratively peel every node with
    * degree < k until none remains; what survives is the maximal
    * subgraph of minimum degree k (denser than any q132 local-lcc
    * signal — a node can have lcc 1.0 in a 2-clique yet never reach
    * a 3-core; SemDedup-grade cluster cores are exactly the high-k
    * cores). Output: surviving nodes with their WITHIN-CORE degree.
    *
    * Scale design (100 TB): each peel round is a map-side-combined
    * degree aggregation + two semi-joins restricting the edge frame
    * — all exchanges on node keys; the round result is
    * localCheckpointed, which is LOAD-BEARING twice over: the edge
    * frame feeds both the degree aggregation and the next
    * restriction (a plain lineage would double the plan per round —
    * the q131 OOM lesson), and the unroll depth stays a flat
    * [[KCoreRounds]]-step pipeline instead of an exponential join
    * tree. The peel count for FULL decomposition is bounded by the
    * degeneracy (tens on web-scale graphs); the graded query pins
    * k = [[KCoreK]], rounds = [[KCoreRounds]]. */
  /** Synchronous label-propagation round count (q189) — fixed so the
    * oracle unrolls the identical computation (sync LPA on bipartite
    * structures can oscillate rather than converge; a fixed round
    * budget makes the output a deterministic function of the graph
    * either way). */
  val LabelPropRounds = 4

  /** Synchronous label propagation (q189) — the linear-time community
    * detector (Raghavan et al. 2007) over the mutual k-NN graph, the
    * fourth community lens after q132 triangles / q141 k-core / the
    * dedup family's connected components: labels start as node ids;
    * each round every node adopts the most frequent label among its
    * NEIGHBORS (ties → smallest label — the determinism the
    * async/random-order textbook variant lacks), isolated nodes keep
    * their own. Where connected components answer "reachable at
    * all?", LPA's majority vote splits a component along its sparse
    * cuts — the communities, not the components.
    *
    * Scale shape: per round, ONE |E|-bounded join moves labels to
    * neighbors, the (node, label) vote count is map-side-combined,
    * and the winner window is partitioned per node over at most
    * deg(v) candidate labels — never a global sort. The label frame
    * (|V| rows) is the only iterated state, localCheckpointed per
    * round (the q141/q131 lineage rule: it is referenced twice — the
    * vote join and the carry — and feeds the next round). */
  def labelPropagation(knnEdges: DataFrame, nodes: DataFrame,
      rounds: Int = LabelPropRounds): DataFrame = {
    val mutual = mutualEdges(knnEdges)
    val adj = mutual.select(col("u").as("node"), col("v").as("nbr"))
      .union(mutual.select(col("v").as("node"), col("u").as("nbr")))
      .localCheckpoint()
    var labels = nodes.select(col("node_id"),
      col("node_id").as("label"))
    // round loop under the harness loop-partition scope (BatchScale)
    graft.util.BatchScale.withLoopPartitions(knnEdges.sparkSession) {
    for (_ <- 1 to rounds) {
      val votes = adj
        .join(labels.withColumnRenamed("node_id", "nbr"), "nbr")
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("n"))
      val best = votes.withColumn("rn", row_number().over(
          Window.partitionBy(col("node"))
            .orderBy(col("n").desc, col("label").asc)))
        .filter(col("rn") === 1)
        .select(col("node").as("node_id"), col("label").as("new_label"))
      val next = labels.join(best, Seq("node_id"), "left")
        .select(col("node_id"),
          coalesce(col("new_label"), col("label")).as("label"))
        .localCheckpoint()
      // superseded round's label blocks die with the eager
      // checkpoint above (no-op on the round-0 non-checkpoint)
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(labels)
      labels = next
    }
    } // withLoopPartitions
    // the adjacency checkpoint fed only the rounds; the returned
    // frame is the final round's own checkpoint — adj is dead
    org.apache.spark.sql.graft.Bridge.releaseCheckpoint(adj)
    labels
  }

  /** Personalized-PageRank iteration count and the seed rule (q195):
    * seeds are the customer nodes whose custkey ≡ 0 (mod
    * [[PprSeedMod]]) — pure arithmetic on the node id, so the mirror
    * derives the identical seed set with no shipped list. */
  val PprIters = 5
  val PprSeedMod = 17

  /** Personalized PageRank (q195) — relevance propagation FROM a
    * seed set (Haveliwala 2002): restart mass (1−d) and the dangling
    * redistribution both return to the SEEDS (uniformly) instead of
    * to every node — the walk teleports home, so rank measures
    * proximity to the seed set, not global centrality. This is the
    * graph-side data-selection primitive (score suppliers/documents
    * by closeness to a curated seed cohort — the q91 DSIR idea with
    * the graph as the feature), and the crisp structural property
    * the spec pins: a component with NO seed gets rank EXACTLY 0
    * (no teleport ever lands there; global PR gives every node
    * (1−d)/n no matter what).
    *
    * Same execution shape as [[pageRankDirectedWithHandle]] (per
    * round: one driver-scalar dangling sum that doubles as the
    * materializing action, one src-partitioned contribution join
    * moving the |V|-row rank vector, localCheckpoint lineage cut);
    * fixed [[PprIters]] rounds, final rank rounded to
    * [[RankRoundDigits]] (the q99/q104 compare discipline). */
  def personalizedPageRank(edges0: DataFrame,
      iters: Int = PprIters): DataFrame = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = edges0.repartition(col("src")).persist(level)
    val deg = edges.groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("deg")).persist(level)
    val ew = edges.join(deg, "src").persist(level)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .join(deg.select(col("src").as("node"), lit(true).as("has_out")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("has_out"), lit(false)).as("has_out"),
        expr(s"node % 2 = 0 AND (node DIV 2) % $PprSeedMod = 0")
          .as("is_seed"))
      .persist(level)
    val ns = nodes.filter(col("is_seed")).count()
    require(ns > 0, "personalizedPageRank: empty seed set")
    var ranks = nodes.select(col("node"), col("has_out"),
        col("is_seed"),
        when(col("is_seed"), lit(1.0) / ns).otherwise(lit(0.0))
          .as("rank"))
      .localCheckpoint()
    // round loop under the harness loop-partition scope (BatchScale)
    graft.util.BatchScale.withLoopPartitions(edges0.sparkSession) {
    for (_ <- 1 to iters) {
      val dm = ranks.filter(!col("has_out"))
        .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
      val contrib = ew.join(ranks.select(col("node"), col("rank")),
          col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("rank") / col("deg")).as("mass"))
      val next = nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"), col("has_out"), col("is_seed"),
          (when(col("is_seed"), lit(OneMinusDamping) / ns)
            .otherwise(lit(0.0)) +
            lit(Damping) * (coalesce(col("mass"), lit(0.0)) +
              when(col("is_seed"), lit(dm) / ns).otherwise(lit(0.0))))
            .as("rank"))
        .localCheckpoint()
      // localCheckpoint is eager: the superseded round's blocks are
      // dead the moment `next` materializes — release them NOW
      // instead of leaking every round's |V|-row cache to
      // ContextCleaner GC (storage pressure with no upper bound)
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(ranks)
      ranks = next
    }
    } // withLoopPartitions
    val out = ranks.select(col("node"), col("is_seed"),
      round(col("rank"), RankRoundDigits).as("rank"))
    Seq(ew, deg, edges, nodes).foreach(_.unpersist())
    out
  }

  /** Newman modularity profile of a node partition (q194) — the
    * standard quality score for ANY community assignment (here the
    * q189 LPA labels over the mutual k-NN graph): per community c,
    * Q_c = e_c/m − (d_c/2m)², where e_c = intra-community edges,
    * d_c = total degree mass, m = |E|; Q = Σ_c Q_c ∈ [−0.5, 1), the
    * number a curation pipeline thresholds before trusting cluster-
    * level actions (SemDedup cells, cluster-balanced sampling).
    *
    * All inputs are EXACT BIGINTs off two map-side-combined
    * aggregations (edge→label join moves |E| skinny rows once; the
    * degree mass reuses the |V|-row label frame), and the Q_c
    * expression is a fixed-order double formula over those integers
    * — bit-identical in the mirror with no rounding step (the q138
    * discipline). Output is the per-community table (size, e_c, d_c,
    * Q_c); the scalar Q is the caller's one-row sum. */
  def modularity(knnEdges: DataFrame, nodes: DataFrame,
      rounds: Int = LabelPropRounds): DataFrame = {
    // labelPropagation already returns its final round's eager
    // localCheckpoint — re-checkpointing it here was one more full
    // |V|-row copy job for an identically-shaped plan
    val labels = labelPropagation(knnEdges, nodes, rounds)
    val edges = mutualEdges(knnEdges).localCheckpoint()
    val m = edges.count()
    val lu = labels.select(col("node_id").as("u"),
      col("label").as("lu"))
    val lv = labels.select(col("node_id").as("v"),
      col("label").as("lv"))
    val intra = edges.join(lu, "u").join(lv, "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label"))
      .agg(count(lit(1)).as("intra_edges"))
    val degMass = edges
      .select(explode(array(col("u"), col("v"))).as("node_id"))
      .join(labels, "node_id")
      .groupBy(col("label")).agg(count(lit(1)).as("deg_sum"))
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"))
    sizes.join(degMass, Seq("label"), "left")
      .join(intra, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("deg_sum"), lit(0L)).as("deg_sum"),
        (coalesce(col("intra_edges"), lit(0L)).cast("double") / m -
          (coalesce(col("deg_sum"), lit(0L)).cast("double") / (2.0 * m)) *
          (coalesce(col("deg_sum"), lit(0L)).cast("double") / (2.0 * m)))
          .as("q_c"))
  }

  def kCore(knnEdges: DataFrame, k: Int = KCoreK,
      rounds: Int = KCoreRounds): DataFrame = {
    var edges = mutualEdges(knnEdges).localCheckpoint()
    var r = 0
    // peel loop under the harness loop-partition scope (BatchScale)
    graft.util.BatchScale.withLoopPartitions(knnEdges.sparkSession) {
    while (r < rounds) {
      val deg = degreesOf(edges)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val keep = deg.filter(col("degree") >= k).select(col("node_id"))
      val next = edges
        .join(keep.withColumnRenamed("node_id", "u"), Seq("u"),
          "left_semi")
        .join(keep.withColumnRenamed("node_id", "v"), Seq("v"),
          "left_semi")
        .localCheckpoint()
      deg.unpersist()
      // the superseded peel's blocks are dead once `next` (eager)
      // materializes — release instead of leaking to ContextCleaner
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(edges)
      edges = next
      r += 1
    }
    } // withLoopPartitions
    degreesOf(edges).select(col("node_id"),
      col("degree").as("core_degree"))
  }
}
