package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over similarity graphs (the kNN graph, near-dup pair
  * graphs): centrality scoring a curation pipeline uses to pick canonical
  * documents inside duplicate neighborhoods or to weight corpus items by
  * connectivity.
  *
  * Everything here is INTEGER-exact so the DuckDB oracle can replay the
  * whole computation bit-for-bit (same rationale as the k-means /
  * PQ trainers in [[VectorOps]]): ranks are held in integer micro-units
  * with floor division at every step — no accumulation-order-dependent
  * floating point anywhere.
  */
object GraphOps {

  /** PageRank over a directed edge list `(src, dst)` with `iters` fixed
    * power-iteration rounds, damping 85/100, ranks in integer micro-units
    * (`scale` ≙ total mass 1.0). Per round, with N = |nodes|:
    *
    *   r₀(v)    = scale div N
    *   rₜ₊₁(v) = (15 · (scale div N)) div 100
    *            + (85 · Σ_{u→v} (rₜ(u) div outdeg(u))) div 100
    *
    * All values positive integers, all divisions floor — Spark's `div` and
    * DuckDB's `//` agree, so the oracle replays the full iteration.
    * Dangling mass is dropped (the usual simplification); node set =
    * distinct sources, which covers every connected node for
    * symmetric-candidate graphs such as [[VectorOps.knnGraph]] output
    * (each colliding pair appears in both directions before ranking, so
    * any node with an edge ranks at least one out-neighbor). Nodes nobody
    * links to keep the base term via the left join.
    *
    * Scale shape: the rank table is |V| rows × three longs (out-degree
    * rides in the rank table, so each round is ONE hash join — edges ⋈
    * ranks on src, AQE broadcasts the rank side when it is small,
    * otherwise both sides co-partition on src) feeding a partially-
    * aggregated groupBy(dst) shuffle, then a left join back to the node
    * list. Rounds COMPOSE LAZILY and re-root through an eager
    * `localCheckpoint` only every `ckptEvery` rounds (superseded
    * checkpoints freed immediately — [[graft.core.Caches.checkpointRdd]],
    * the [[DedupOps.nearDupClusters]] lifecycle), so plan size stays
    * BOUNDED (≤ ckptEvery rounds deep) while a short run — e.g. the
    * 5-round gate — executes as ONE job instead of one materialization
    * per round: at small graph sizes the per-round checkpoint job was
    * pure scheduling overhead (~5× the useful work), and at production
    * sizes the composed rounds still shuffle identically, they just skip
    * the intermediate block writes.
    *
    * EXACT early stop: ranks are integers under a deterministic map, so
    * the iteration reaches an exact fixed point r = F(r) — after which
    * every further round is the identity. At each checkpoint boundary
    * the next round is ALSO materialized and the two adjacent rank
    * tables compared exactly; on equality the remaining rounds are
    * skipped with a BIT-IDENTICAL result (the oracle replays all `iters`
    * rounds and agrees). Probe cost: one extra |V|-row cache write + one
    * cached-to-cached join per boundary — at 10 M nodes that is seconds
    * against the ~10 s/round it can save ×(iters − t) rounds.
    *
    * Return-plan lifecycle: for iters < ckptEvery (the gate shape) the
    * result is LAZY — one composed job, pay it once, persist before
    * consuming twice. For iters ≥ ckptEvery the FINAL round is
    * checkpointed too, so the returned frame is a cheap block read that
    * survives repeated consumption — but those blocks are registered
    * with [[graft.core.Caches]], so `Caches.releaseAll()` BEFORE
    * consuming the result frees
    * them and the read FAILS (lineage is truncated by design; it cannot
    * recompute). Consume, then release — the registry's contract. */
  def pageRank(edges: DataFrame, iters: Int,
               scale: Long = 1000000000000L,
               ckptEvery: Int = 8): DataFrame =
    pageRankCounted(edges, iters, scale, ckptEvery)._1

  /** [[pageRank]] plus the number of rounds the loop ACTUALLY executed
    * (= `iters` unless the exact fixed-point probe fired at a checkpoint
    * boundary) — the diagnostic that attributes a long-run speedup to
    * early convergence vs the final-round checkpoint (the
    * SCALE_GRAPH `pr50_rounds` readout). The count is final when this
    * returns: the probe jobs run eagerly during plan construction. */
  def pageRankCounted(edges: DataFrame, iters: Int,
                      scale: Long = 1000000000000L,
                      ckptEvery: Int = 8): (DataFrame, Int) = {
    require(iters >= 1 && iters <= 1000, s"iters out of range: $iters")
    require(ckptEvery >= 1 && ckptEvery <= 16,
      s"ckptEvery out of range: $ckptEvery")
    // Both the degree table and every round's join consume the edge list.
    val e = graft.core.Caches.persistTracked(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")))
    val deg = graft.core.Caches.persistTracked(
      e.groupBy("src").agg(count(lit(1)).as("deg")))
    val n = deg.count()
    require(n > 0, "pageRank on an empty edge list")
    val r0 = scale / n
    val base = (15L * r0) / 100L
    def round(ranks: DataFrame): DataFrame = {
      val contrib = e
        .join(ranks.select(col("id").as("src"),
          expr("r div deg").as("share")), "src")
        .groupBy("dst").agg(sum(col("share")).as("contrib"))
      deg.select(col("src").as("id"), col("deg"))
        .join(contrib.select(col("dst").as("id"), col("contrib")),
          Seq("id"), "left")
        .select(col("id"), col("deg"),
          (lit(base) +
            expr("(85 * coalesce(contrib, CAST(0 AS BIGINT))) div 100"))
            .as("r"))
    }
    val init = deg.select(col("src").as("id"), col("deg"), lit(r0).as("r"))
    val (ranks, rounds) = iterateRounds(init, round, iters, ckptEvery)
    (ranks.select(col("id").as("vec_id"), col("r").as("pr")), rounds)
  }

  /** The shared round-loop machinery of [[pageRank]] /
    * [[personalizedPageRank]] — one copy of the stateful
    * checkpoint/probe logic (the r15 review's duplication finding):
    * rounds compose lazily and re-root through an eager
    * `localCheckpoint` every `ckptEvery` rounds with superseded blocks
    * freed immediately; at each boundary the EXACT integer fixed-point
    * probe runs the adjacent round eagerly and compares the two CACHED
    * rank tables on (id, r) — equality ends the loop with a
    * bit-identical result; and at iters ≥ ckptEvery the final round is
    * checkpointed so the returned frame is a repeatable block read. The
    * live checkpoint is registered with [[graft.core.Caches]]
    * (consume-then-release). `init`/`round` frames must carry (id, r). */
  private def iterateRounds(init: DataFrame, round: DataFrame => DataFrame,
                            iters: Int,
                            ckptEvery: Int): (DataFrame, Int) = {
    var ranks = init
    // Backing storage of the checkpoint the CURRENT plan reads (if any):
    // freed when a newer checkpoint supersedes it, tracked for the
    // registry once it feeds the returned plan.
    var liveCkpt: Option[org.apache.spark.rdd.RDD[_]] = None
    def supersede(ckpt: DataFrame): Unit = {
      liveCkpt.foreach(_.unpersist(blocking = false)) // superseded round
      liveCkpt = graft.core.Caches.checkpointRdd(ckpt)
    }
    var t = 0
    var fixed = false
    while (t < iters && !fixed) {
      var next = round(ranks)
      t += 1
      if (t % ckptEvery == 0 && t < iters) {
        next = next.localCheckpoint() // eager: materializes BEFORE the free
        supersede(next)
        if (t < iters) {
          // Fixed-point probe: run the adjacent round eagerly and compare
          // the two CACHED rank tables exactly (both |V| rows in memory).
          val probe = round(next).localCheckpoint()
          t += 1
          fixed = next.select(col("id"), col("r"))
            .join(probe.select(col("id"), col("r").as("r2")), "id")
            .filter(col("r") =!= col("r2")).isEmpty
          supersede(probe)
          next = probe
        }
      }
      ranks = next
    }
    if (iters >= ckptEvery) {
      // Root the RETURNED plan in its own blocks (cheap repeatable read;
      // also releases the composed tail's reference to the last
      // intermediate checkpoint). No-op-cheap when `ranks` already IS a
      // checkpoint (the fixed-point exit path re-caches |V| rows).
      ranks = ranks.localCheckpoint()
      supersede(ranks)
    }
    // Released only after the caller consumes the result (the registry's
    // consume-then-release contract — see scaladoc).
    liveCkpt.foreach(graft.core.Caches.trackRdd)
    (ranks, t)
  }

  /** Triangle census of the undirected graph induced by a directed edge
    * list (an edge exists iff EITHER direction appears — the natural
    * undirection of a kNN top-k list, where ranking is asymmetric).
    * Output: one row (n_nodes, n_edges, n_triangles) — the clustering
    * signal that separates tight duplicate neighborhoods from chains.
    *
    * Shape: wedge enumeration over the canonical a<b edge set — e1(a,b)
    * ⋈ e2(b,c) builds each wedge from its smallest vertex, and the
    * closing edge (a,c) is semi-joined, so each triangle is counted
    * exactly once (a<b<c). Scale: both joins key on single node ids;
    * wedge count is Σ_b deg²(b), the known hot spot — at production
    * scale the standard refinement is ordering by DEGREE instead of id
    * (same join shape, provably Σ min-degree wedges); id order is kept
    * here because it is what a SQL oracle can replay deterministically.
    * State never exceeds the wedge stream; nothing is quadratic in
    * nodes. */
  def triangles(edges: DataFrame): DataFrame = {
    val ue = graft.core.Caches.persistTracked(
      edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") < col("b")).distinct())
    val tri = ue.as("e1")
      .join(ue.as("e2"), col("e2.a") === col("e1.b"))
      .select(col("e1.a").as("x"), col("e2.b").as("z"))
      .join(ue.as("e3"),
        col("x") === col("e3.a") && col("z") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodes = ue.select(col("a").as("v")).unionAll(ue.select(col("b").as("v")))
      .agg(countDistinct(col("v")).as("n_nodes"))
    val ne = ue.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(ne).crossJoin(tri)
  }

  /** [[triangles]] with the production DEGREE ordering: each undirected
    * edge is oriented from its lower-(degree, id) endpoint to the higher,
    * wedges enumerate only from a vertex's out-edges, and the closing
    * undirected edge is checked once. Every triangle's minimum-rank
    * vertex is the unique vertex with two out-edges in it, so counts are
    * IDENTICAL to the id-ordered variant (property-tested) — but wedge
    * work drops from Σ deg²(hub) to O(|E|^{3/2}) total: a hub's edges
    * all point INTO it, so the hub centers no wedges. This is the
    * skew-safe shape for power-law similarity graphs; the id-ordered
    * twin remains the oracle-replayable gate. */
  def trianglesDegreeOrdered(edges: DataFrame): DataFrame = {
    val ue = graft.core.Caches.persistTracked(
      edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") < col("b")).distinct())
    val deg = ue.select(col("a").as("v")).unionAll(ue.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val ranked = ue
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = graft.core.Caches.persistTracked(
      ranked.select(when(fwd, col("a")).otherwise(col("b")).as("src"),
        when(fwd, col("b")).otherwise(col("a")).as("dst")))
    val tri = oriented.as("x")
      .join(oriented.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.dst").as("v"), col("y.dst").as("w"))
      .join(ue.as("cl"),
        least(col("v"), col("w")) === col("cl.a") &&
          greatest(col("v"), col("w")) === col("cl.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val ne = ue.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(ne).crossJoin(tri)
  }

  /** k-core of the undirected graph induced by a directed edge list: the
    * maximal subgraph in which every vertex has degree ≥ k — the standard
    * "dense similarity neighborhood" extractor (a near-dup blob survives
    * the peel; chains and stars dissolve). Peeling runs up to `rounds`
    * FIXED iterations of the synchronous peel (drop every vertex whose
    * current degree is < k, then discount the dropped vertices' edges);
    * a fixpoint round is a no-op, so the output IS the exact k-core
    * whenever the peel converges within `rounds` (property-tested against
    * a run-to-fixpoint brute force; the fixed count is what lets a SQL
    * oracle replay the identical computation without data-dependent
    * recursion). Convergence is detected per round (the drop set is
    * empty) and the remaining rounds — provably no-ops — are skipped, so
    * a generous round budget costs nothing after the cascade settles.
    *
    * Output: one row per surviving vertex `(vec_id, core_deg)` with its
    * degree inside the surviving subgraph.
    *
    * Scale shape — INCREMENTAL DECREMENT peel, not edge-list rewriting.
    * Restricting the edge list every round re-shuffles and re-materializes
    * O(|E|) rows × rounds; instead the original adjacency is cached ONCE
    * and each round touches only what changed: the vertices dropped this
    * round (disjoint across rounds, total ≤ |V|) join against the cached
    * adjacency to count, per surviving neighbor, how many of its edges
    * just disappeared — exactly the edges incident to the drop set, since
    * an edge is removed in the round its first endpoint drops. The
    * survivor table `(v, deg)` applies the decrements and re-roots through
    * an eager `localCheckpoint` (the [[pageRank]] lifecycle — plan size
    * and storage constant in the round count). Per-round cost is one
    * cached-adjacency scan + a shuffle of the INCIDENT edges only (the
    * drop side broadcasts while small); nothing is ever quadratic, and
    * nothing linear in |E| is re-materialized per round. Equivalence to
    * the restrict-the-edge-list formulation: a survivor's degree in the
    * restricted list equals its original degree minus neighbors dropped
    * so far (drop sets are disjoint, and an alive–dropped edge is
    * necessarily still live when the drop happens), and vertices whose
    * degree reaches 0 leave the restricted list's degree table — hence
    * the final `deg >= 1` filter. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"k out of range: $k")
    require(rounds >= 1 && rounds <= 64, s"rounds out of range: $rounds")
    val ue = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct()
    // Both directions, keyed by the endpoint that may DROP (u): one scan
    // per round probes it with the round's drop set.
    val adj = graft.core.Caches.persistTracked(
      ue.select(col("a").as("v"), col("b").as("u"))
        .unionAll(ue.select(col("b").as("v"), col("a").as("u"))))
    // Convergence (and the broadcast decision) rides on an `observe`
    // metric collected DURING each round's checkpoint materialization —
    // the next round's drop-set size falls out of the job that had to run
    // anyway, so no separate per-round `count()` action exists (it was
    // ~15% of the 10M-node peel's wall clock, round-10 advice item).
    def observed(df: org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, () => Long) = {
      val obs = new org.apache.spark.sql.Observation()
      val out = df.observe(obs, sum(when(col("deg") < k, 1L)).as("n_drop"))
        .localCheckpoint()
      (out, () => Option(obs.get("n_drop")).map(_.asInstanceOf[Long]).getOrElse(0L))
    }
    var (alive, nDropNext) = observed(adj.groupBy("v").agg(count(lit(1)).as("deg")))
    var aliveRdd = graft.core.Caches.checkpointRdd(alive)
    var t = 0
    var nDropped = nDropNext()
    while (t < rounds && nDropped > 0) {
      val dropped = alive.filter(col("deg") < k).select(col("v").as("u"))
      // Edges lost by each survivor this round = its adjacency rows
      // whose OTHER endpoint is in the drop set. Broadcast the drop set
      // while it is small (the common case after the first round); fall
      // back to a shuffled join for a pathological mass-drop round.
      val probe =
        if (nDropped <= 4000000L) broadcast(dropped) else dropped
      val delta = adj.join(probe, "u")
        .groupBy("v").agg(count(lit(1)).as("dec"))
      val (next, nd) = observed(alive.filter(col("deg") >= k)
        .join(delta, Seq("v"), "left")
        .select(col("v"),
          (col("deg") - coalesce(col("dec"), lit(0L))).as("deg")))
      aliveRdd.foreach(_.unpersist(blocking = false)) // superseded round
      alive = next
      aliveRdd = graft.core.Caches.checkpointRdd(alive)
      nDropped = nd()
      t += 1
    }
    aliveRdd.foreach(graft.core.Caches.trackRdd)
    alive.filter(col("deg") >= 1)
      .select(col("v").as("vec_id"), col("deg").as("core_deg"))
  }

  /** Community detection by SYNCHRONOUS label propagation (LPA) over the
    * undirected graph induced by a directed edge list — the cheap
    * communities pass that groups similarity neighborhoods WITHOUT the
    * transitive-closure collapse of connected components (CC merges two
    * dense blobs joined by one accidental edge; LPA keeps them apart
    * because votes, not reachability, decide membership).
    *
    * Labels start as vertex ids; each round every vertex adopts the most
    * frequent label among its NEIGHBORS, ties broken by the smallest
    * label — fully deterministic, so a SQL oracle replays every round.
    * `rounds` is FIXED (synchronous LPA may oscillate on bipartite-ish
    * structures, so run-to-fixpoint is not well-defined; bounded rounds
    * is the standard formulation and what keeps the gate engine-exact).
    *
    * Scale shape: per round, one equi-join of the cached adjacency with
    * the |V|-row label table (both keyed on a single vertex id), a
    * partially-aggregated (v, label) vote count, and a per-vertex top-1
    * that Spark plans as WindowGroupLimit — map-side pruned, never a full
    * vote sort. Rounds re-root through eager `localCheckpoint`s with
    * superseded blocks freed (the [[pageRank]] lifecycle): plan size and
    * storage constant in the round count. Output: (vec_id, label). */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds out of range: $rounds")
    val ue = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct()
    val adj = graft.core.Caches.persistTracked(
      ue.select(col("a").as("v"), col("b").as("u"))
        .unionAll(ue.select(col("b").as("v"), col("a").as("u"))))
    var labels = adj.select(col("v")).distinct()
      .select(col("v"), col("v").as("lbl")).localCheckpoint()
    var labelsRdd = graft.core.Caches.checkpointRdd(labels)
    var t = 0
    while (t < rounds) {
      val votes = adj
        .join(labels.select(col("v").as("u"), col("lbl")), "u")
        .groupBy("v", "lbl").agg(count(lit(1)).as("c"))
      val next = votes
        .withColumn("_rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("v").orderBy(col("c").desc, col("lbl"))))
        .filter(col("_rn") === 1).select(col("v"), col("lbl"))
        .localCheckpoint()
      labelsRdd.foreach(_.unpersist(blocking = false)) // superseded round
      labels = next
      labelsRdd = graft.core.Caches.checkpointRdd(labels)
      t += 1
    }
    labelsRdd.foreach(graft.core.Caches.trackRdd)
    labels.select(col("v").as("vec_id"), col("lbl").as("label"))
  }

  /** Personalized PageRank: the [[pageRank]] recursion with teleport mass
    * restricted to a SEED set — the relevance-propagation readout behind
    * similarity-based data selection ("rank the whole corpus by graph
    * proximity to a curated seed set", the LangRank / task-similar-data
    * shape). With S = seeds, k = |S|:
    *
    *   r₀(v)    = scale div k            if v ∈ S else 0
    *   rₜ₊₁(v) = [v ∈ S] · (15 · (scale div k)) div 100
    *            + (85 · Σ_{u→v} (rₜ(u) div outdeg(u))) div 100
    *
    * Same integer-exact contract as [[pageRank]] (floor division
    * throughout, dangling mass dropped), so a SQL oracle replays every
    * round. Node set = distinct SOURCES ∪ seeds (a seed with no out-edges
    * still holds its base mass; it just contributes nothing). Note the
    * asymmetry this implies: an IN-EDGE-ONLY vertex (a sink that is not a
    * seed) is ABSENT from the output even when rank mass flows into it —
    * mass sent to sinks is dropped in the same round it arrives, exactly
    * like [[pageRank]]'s dangling-mass rule (and the oracle's). Callers
    * ranking a corpus by seed proximity who need sink documents listed
    * must union distinct destinations into the node set themselves; rows
    * that ARE present with rank 0 mean "not reached from the seed set
    * through non-sink paths".
    *
    * Scale shape identical to [[pageRank]]: per round one edges ⋈ ranks
    * equi-join into a partially-aggregated groupBy(dst), left-joined back
    * to the node list; rounds compose lazily and re-root through an eager
    * localCheckpoint every `ckptEvery` rounds with superseded blocks
    * freed, so plan size stays bounded while short runs execute as one
    * job (the [[pageRank]] lifecycle, including its exact fixed-point
    * probe at boundaries and its return-plan rule: lazy below ckptEvery
    * rounds, final-round checkpoint at or above it — with the same
    * consume-then-release contract: `Caches.releaseAll()` before
    * consuming frees the blocks the returned frame reads). The seed
    * table is model-sized and broadcasts. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
                           scale: Long = 1000000000000L,
                           ckptEvery: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 1000, s"iters out of range: $iters")
    require(ckptEvery >= 1 && ckptEvery <= 16,
      s"ckptEvery out of range: $ckptEvery")
    val e = graft.core.Caches.persistTracked(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")))
    val deg = graft.core.Caches.persistTracked(
      e.groupBy("src").agg(count(lit(1)).as("deg")))
    val sd = graft.core.Caches.persistTracked(
      seeds.select(col(seeds.columns.head).cast("long").as("id")).distinct())
    val k = sd.count()
    require(k > 0, "personalizedPageRank with an empty seed set")
    val r0 = scale / k
    val base = (15L * r0) / 100L
    val nodes = graft.core.Caches.persistTracked(
      deg.select(col("src").as("id")).unionAll(sd).distinct())
    // [v ∈ S] as a 0/1 column the per-round select reuses.
    def withSeedFlag(n: DataFrame): DataFrame = n
      .join(sd.select(col("id"), lit(1L).as("_s")), Seq("id"), "left")
      .select(col("id"), coalesce(col("_s"), lit(0L)).as("s"))
    // Out-degree rides in the node table (1 for edge-less seeds — nothing
    // joins them on src, so the value never divides anything), fusing the
    // per-round deg join away exactly as in [[pageRank]].
    val flagged = graft.core.Caches.persistTracked(
      withSeedFlag(nodes)
        .join(deg.select(col("src").as("id"), col("deg")), Seq("id"), "left")
        .select(col("id"), col("s"), coalesce(col("deg"), lit(1L)).as("deg")))
    def round(ranks: DataFrame): DataFrame = {
      val contrib = e
        .join(ranks.select(col("id").as("src"),
          expr("r div deg").as("share")), "src")
        .groupBy("dst").agg(sum(col("share")).as("contrib"))
      flagged
        .join(contrib.select(col("dst").as("id"), col("contrib")),
          Seq("id"), "left")
        .select(col("id"), col("deg"),
          (col("s") * lit(base) +
            expr("(85 * coalesce(contrib, CAST(0 AS BIGINT))) div 100"))
            .as("r"))
    }
    val init = flagged
      .select(col("id"), col("deg"), (col("s") * lit(r0)).as("r"))
    iterateRounds(init, round, iters, ckptEvery)._1
      .select(col("id").as("vec_id"), col("r").as("ppr"))
  }
}
