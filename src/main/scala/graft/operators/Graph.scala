package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.CachePool

/** Distributed graph primitives over edge-list DataFrames — the
  * companion to [[Dedup.connectedComponents]]'s label propagation:
  * where components answer "which docs are transitively tied", these
  * answer local-structure questions (triangle mass = how clique-ish a
  * co-engagement neighborhood is — the classic community/spam signal:
  * organic interest graphs close triangles, scripted farms don't).
  *
  * Algorithms are the published distributed forms: triangle counting
  * via the COMPACT-FORWARD / degree-ordered wedge join (Suri &
  * Vassilvitskii, "Counting triangles and the curse of the last
  * reducer", WWW 2011) — wedges are generated from each edge's LOWER-
  * degree endpoint so a power-law hub never materializes its full
  * neighborhood square.
  */
object Graph {

  /** Exact global + per-node triangle counts over an undirected edge
    * list. PRECONDITION (the phash unique-id lesson, documented
    * because violations corrupt counts silently): canonical simple
    * edges — `src < dst`, no duplicates. Self-loops are dropped by a
    * narrow filter here; duplicate edges are the caller's contract
    * (every producer in this repo emits them from a distinct/groupBy,
    * so re-distincting here would buy a redundant shuffle).
    *
    * Wedge join on the degree-ordered orientation: orient each edge
    * toward the higher (degree, id) endpoint; each node then emits
    * wedges only over its OUT-neighbors (≤ O(m^{1/2}) per node on any
    * graph — the curse-of-the-last-reducer fix), and a wedge (a→b,
    * a→c) closes iff oriented edge b→c exists — ONE equi-join against
    * the oriented edge set. Two shuffles total (wedge build + close
    * join), both on edge keys, never a neighborhood cross product
    * outside the bounded out-degree.
    *
    * Output: one row — n_triangles (exact long). */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val s = col(srcCol)
    val d = col(dstCol)
    // persisted (r18): `e` feeds THREE subtrees (both degree-count
    // union branches + the decorate join) and `oriented` three more
    // (both wedge sides + the closing set) — unpersisted, every
    // consumer re-ran the caller's whole edge derivation; with the
    // derivation itself staging a cache (coEngagementEdges), six
    // sibling subtrees racing to build that cache measured 4x the
    // persisted form (QueryTimer, x33 at sf0.1).
    val e = CachePool.register(edges
      .select(s.as("_a"), d.as("_b")).filter(col("_a") =!= col("_b"))
      .persist())
    // degree per endpoint (both directions), then the (degree, id)
    // total order that makes the orientation acyclic and balanced.
    val deg = e.select(col("_a").as("_n")).unionAll(e.select(col("_b").as("_n")))
      .groupBy(col("_n")).agg(count(lit(1)).as("_deg"))
    val withDeg = e
      .join(deg.select(col("_n").as("_a"), col("_deg").as("_da")), Seq("_a"))
      .join(deg.select(col("_n").as("_b"), col("_deg").as("_db")), Seq("_b"))
    val oriented = CachePool.register(withDeg.select(
      when(col("_da") < col("_db") ||
        (col("_da") === col("_db") && col("_a") < col("_b")), col("_a"))
        .otherwise(col("_b")).as("_lo"),
      when(col("_da") < col("_db") ||
        (col("_da") === col("_db") && col("_a") < col("_b")), col("_b"))
        .otherwise(col("_a")).as("_hi"))
      .persist())
    val wedges = oriented.select(col("_lo"), col("_hi").as("_w1"))
      .join(oriented.select(col("_lo"), col("_hi").as("_w2")), Seq("_lo"))
      .filter(col("_w1") < col("_w2"))
    val closing = oriented.select(
      least(col("_lo"), col("_hi")).as("_w1"),
      greatest(col("_lo"), col("_hi")).as("_w2"))
    wedges.join(closing, Seq("_w1", "_w2"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Exact-INTEGER PageRank power iteration over an undirected edge
    * list — the constant-size-vector iterative shape (Pregel / Page
    * et al. 1999): a rank vector of |V| rows cycles against a
    * partitioned edge list for a FIXED number of rounds. Floating-
    * point PageRank is irreproducible across engines (per-node
    * contribution sums are order-dependent IEEE additions), so ranks
    * live in integer micro-units with floor division at both the
    * contribution split (`pr div deg`) and the damping step
    * (`150000 + (85·Σ) div 100` — d = 0.85 over a 1e6 scale): every
    * operation is an exact BIGINT op, addition is associative, and
    * two engines agree bit-for-bit regardless of summation order.
    *
    * Scale shape: the edge list (with out-degree attached) is
    * persisted ONCE and re-read every round; only the |V|-row rank
    * vector shuffles per iteration — at 100 TB of edges the per-round
    * cost is one shuffle of the rank vector onto the edge
    * partitioning plus one map-side-combined sum, never a re-shuffle
    * of the edges themselves. Fixed `iterations` keeps the lineage
    * bounded (each round consumes the previous exactly once, so the
    * whole loop evaluates as one linear pipeline when the result is
    * written). Undirected: each canonical `src < dst` edge carries
    * mass both ways, so every node has in-neighbors and the vector's
    * node set is invariant across rounds.
    *
    * PRECONDITION (as [[triangleCount]]): canonical simple edges —
    * `src < dst`, no duplicates, no self-loops.
    *
    * Output: (node, pr) — micro-unit integer ranks. */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    // persist the CANONICAL edges before symmetrizing: the union's two
    // branches otherwise each re-run the caller's whole edge
    // derivation (a self-join for the co-engagement graph) once —
    // measured 2x the derivation cost at sf0.1 before this persist
    val e = CachePool.register(edges
      .select(col(srcCol).as("_s"), col(dstCol).as("_d")).persist())
    val ed = e.unionAll(e.select(col("_d").as("_s"), col("_s").as("_d")))
    val deg = ed.groupBy(col("_s")).agg(count(lit(1)).as("_deg"))
    // edge list decorated with the source's out-degree, persisted once
    // for the whole loop — the only corpus-width frame in play. It is
    // hash-partitioned AND sorted on the join key BEFORE the persist
    // (guide §2.4: two operations keyed the same way share one
    // exchange). The static plan does not show the saving:
    // plans/r18/x38_pagerank_after.txt still has Exchange+Sort above
    // every cache scan, as the r17 before-plan did. Only at AQE run
    // time does the cached partitioning/ordering satisfy each round's
    // sort-merge join, so the executed rounds exchange only the
    // |V|-row rank vector instead of re-shuffling and re-sorting the
    // edge frame (5x at the registry budget; at 100 TB five full
    // edge-list shuffles instead of zero).
    val edDeg = CachePool.register(
      ed.join(deg, Seq("_s"))
        .repartition(col("_s")).sortWithinPartitions(col("_s"))
        .persist())
    var ranks = deg.select(col("_s").as("node"),
      lit(1000000L).as("pr"))
    for (_ <- 1 to iterations) {
      ranks = edDeg.join(ranks, edDeg("_s") === ranks("node"))
        .select(col("_d"), expr("pr div _deg").as("_c"))
        .groupBy(col("_d")).agg(sum(col("_c")).as("_sum"))
        .select(col("_d").as("node"),
          expr("CAST(150000 + (85 * _sum) div 100 AS BIGINT)").as("pr"))
    }
    ranks
  }

  /** Fixed-depth k-core peeling over an undirected edge list — the
    * SHRINKING-frame iterative shape (vs [[pageRankInt]]'s constant
    * vector): each round recomputes degrees over the surviving
    * induced subgraph and drops every node below `k`, cascading
    * removals round over round (Matula & Beck 1983's peeling, run a
    * fixed `rounds` deep rather than to fixpoint so the operator is
    * a well-defined bounded computation with an unrollable oracle —
    * convergence-dependent loop counts are how two engines disagree).
    * Output after R rounds: nodes whose degree in the R-times-peeled
    * subgraph still clears `k`, with that degree — exact integers.
    *
    * Scale shape: every round's frame is a SUBSET of the previous
    * (monotone shrink — the cheap direction), each peel is one
    * degree aggregate plus two anti-joins against the round's
    * NEWLY-DROPPED node delta. The delta — not the survivor set —
    * is the joined frame because it is the small side in EVERY
    * round: early rounds drop a sliver of |V| (where a survivor
    * broadcast would be |V|-wide — the round-11 verdict's
    * executor-OOM scale-killer), late rounds drop the cascade's
    * tail. No join hint: AQE broadcasts the delta when small and
    * shuffle-joins if a pathological round drops wide. Rounds' edge
    * frames are persisted because each is read twice (degree pass +
    * induce pass) — without the persist the lineage re-evaluates
    * the base scan 2^rounds times.
    *
    * PRECONDITION (as [[triangleCount]]): canonical simple edges. */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    // canonical edges persisted before the symmetrizing union — the
    // [[pageRankInt]] double-derivation fix
    val e = CachePool.register(edges
      .select(col(srcCol).as("_s"), col(dstCol).as("_d")).persist())
    // hash-partitioned on the degree key ONCE before the first persist
    // (guide §2.4): the anti-joins against the broadcast delta preserve
    // the streamed side's partitioning, so every round's degree
    // aggregate — and every subsequent round's persisted frame — rides
    // the same single exchange. Without this the r17 plans paid a full
    // edge shuffle per peel round for the degree groupBy.
    var ed = CachePool.register(
      e.unionAll(e.select(col("_d").as("_s"), col("_s").as("_d")))
        .repartition(col("_s")).persist())
    var deg = ed.groupBy(col("_s")).agg(count(lit(1)).as("_deg"))
    for (r <- 1 to rounds) {
      // ed already holds only edges among the previous round's
      // survivors, so removing edges touching NEWLY-dropped nodes
      // induces the identical subgraph the old survivor semi-join
      // built — against the small frame instead of the ~|V|-wide one
      // (nodes with no surviving edges are absent from deg and from
      // ed alike: nothing to remove for them)
      val dropped = deg.filter(col("_deg") < k).select(col("_s").as("_n"))
      val next = ed
        .join(dropped, ed("_s") === col("_n"), "left_anti")
        .join(dropped, ed("_d") === col("_n"), "left_anti")
      // plan-depth truncation — the BPE-loop lesson (TextAnalysis.
      // bpeTrain r17): round-over-round nesting of cached plans makes
      // execution-event plan strings grow with depth (a ~50-deep chain
      // OOM'd an 8g driver BUILDING THE STRING), so a deep peel budget
      // rebuilds the edge frame as an eager localCheckpoint (flat
      // LogicalRDD plan, RDD blocks captured for deterministic
      // release) at the boundary. This loop truncates at the BRANCHING
      // boundary, not bpeTrain's linear one: `next` references `ed`
      // three times (directly + twice via `dropped`), so the logical-
      // plan TREE triples per round — 3^8 copies at the linear
      // boundary reproducibly OOM'd an 8g driver, 3^4 = 81 is bounded
      // (see [[CachePool.planTruncateEveryBranching]]). Shallow
      // budgets (every registry peel) never reach a boundary and keep
      // the fully-lazy persisted chain unchanged.
      ed =
        if (r % CachePool.planTruncateEveryBranching == 0)
          CachePool.registerLocalCheckpoint(next)
        else CachePool.register(next.persist())
      deg = ed.groupBy(col("_s")).agg(count(lit(1)).as("_deg"))
    }
    deg.filter(col("_deg") >= k)
      .select(col("_s").as("node"), col("_deg").as("core_deg"))
  }
}
