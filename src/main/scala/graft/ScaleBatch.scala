package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Scale._
import graft.operators.{DedupOps, EventOps, GraphOps, VectorOps}
import graft.operators.SkylineOps._
import graft.sources.DataGenSource

/** The batch families of [[Scale]]: skyline, dedup, graph, events, ann.
  * Each generates its data distributedly from `spark.range` arithmetic
  * (deterministic, partition-invariant, no driver-side data) and is a
  * WALL-CLOCK envelope: correctness of the same operators is oracle-gated
  * at sf0.01.
  */
object ScaleBatch {

  /** SPARK_GRAFT_SCALE_NPARTS: the skyline family's partition counts. */
  def nParts(c: Ctx): Seq[Int] = c.list("SPARK_GRAFT_SCALE_NPARTS", "8").map(_.toInt)

  /** Reproduces the reference's published scalability envelope
    * (`project_documentation.pdf` p.17 §5.2, BASELINE.md: "linear up to 10M
    * records 2D/3D, total time < 400 s", anti-correlated) with this engine's
    * own generator and the full MR-parity pipeline — geometric partition →
    * local skyline → global merge ([[graft.operators.SkylineOps.mrSkylinePoints]])
    * plus the optimality metric and the emitted JSON record, per strategy
    * (MR-Dim / MR-Grid / MR-Angle).
    *
    * Method: for each (dims, n) cell the anti-correlated stream is generated
    * distributedly (partition-invariant md5 generator — DataGenSource), cached
    * and materialized once (the "ingestion" analog, timed separately), then
    * each strategy is timed end-to-end on the reference's per-trigger unit of
    * work: the emitted metrics record (`metricsJson`), which carries
    * record_count, skyline_size AND the D4 optimality in one pipeline —
    * exactly what one reference trigger computes from its materialized local
    * skylines (`FlinkSkyline.java:590-650`). The distinct frontier is counted
    * once per cell (strategy-invariant — the MR merge property) as the
    * skyline-cardinality column. Linearity is demonstrated by running the same
    * cells at 1M and 10M; the 1M 2D cell is also the direct comparison row
    * against BASELINE.md's numbers (MR-Dim/Grid/Angle 19.5/17.6/17.3 s).
    *
    * SPARK_GRAFT_SCALE_NPARTS takes a LIST to replicate the reference's
    * optimality-degradation matrix (`graph_paper_figures.py:38-42`, pdf
    * p.19 §5.4: optimality falls as partitions rise, angle flattest):
    * each (dims, n) cell re-times every strategy at every partition count
    * over the SAME cached stream, so the matrix is one generation pass per
    * cell. The distinct frontier is partition-count-invariant (MR merge
    * property) and so counted once per (dims, n).
    */
  def skyline(c: Ctx, n: Long, dims: Int): Cells = {
    val nPartList = nParts(c) // gate/report default (SURVEY §2.3)
    val dMax = 10000          // the reference producer's domain
    val names = Seq("x", "y", "z", "w").take(dims)
    val df = DataGenSource.pointsDF(c.spark, "anti_correlated", 42L, n, dims,
        0, dMax, numPartitions = c.parts)
      .select(names.zipWithIndex.map { case (d, i) => col("values")(i).as(d) }: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (_, genSec) = timed(df.count())
    val vecCol = array(names.map(col): _*)

    // Strategy- AND partition-count-invariant distinct frontier
    // cardinality (MR merge property; asserted equal across strategies
    // by the mr*_sky2d gates) — counted once per (dims, n).
    val (skyPoints, skySec) = timed(mrSkylinePoints(df, names,
      dimPartitionCol(vecCol, dMax.toDouble, nPartList.head)).count())

    val perNp = nPartList.map { nPart =>
      val strategies: Seq[(String, Column)] = Seq(
        "mrdim"   -> dimPartitionCol(vecCol, dMax.toDouble, nPart),
        "mrgrid"  -> gridPartitionCol(vecCol, dims, dMax.toDouble, nPart),
        "mrangle" -> anglePartitionCol(vecCol, dims, nPart))
      // The emitted-record leg (timed per strategy): materializes the
      // reference-format JSON record for the cell.
      (nPart, strategies.map { case (strat, pid) =>
        val (rec, sec) = timed(
          metricsJson(df, names, pid, nPart, "1").collect().head.getString(0))
        (strat, sec, rec)
      })
    }
    df.unpersist(blocking = true)
    cells(perNp.map { case (nPart, per) =>
      val ps = per.map { case (s, sec, rec) =>
        val opt = "\"optimality\": ([0-9.]+)".r.findFirstMatchIn(rec).map(_.group(1)).getOrElse("-1")
        val ss = "\"skyline_size\": ([0-9]+)".r.findFirstMatchIn(rec).map(_.group(1)).getOrElse("-1")
        f"""\"$s\":{\"sec\":$sec%.2f,\"skyline_rows\":$ss,\"optimality\":$opt}"""
      }.mkString(",")
      f"""{\"dims\":$dims,\"n\":$n,\"npart\":$nPart,\"gen_sec\":$genSec%.2f,\"sky_points\":$skyPoints,\"sky_sec\":$skySec%.2f,$ps,\"total_sec\":${skySec + per.map(_._2).sum}%.2f}"""
    }: _*)
  }

  /** The planted-dup corpus text of document `id` in an `n`-doc corpus.
    * Doc i < 0.9n: 24 words seeded from i. Doc i >= 0.9n: a near-dup of
    * base doc (i - 0.9n) * 9 — word stream re-seeded from the base id,
    * positions 22..23 perturbed (shared shingle Jaccard 20/24, well above
    * the 1/2 verify threshold), so planted pair/cluster structure EXISTS
    * and its volume is known to scale linearly with n; a degenerate corpus
    * (all docs identical, or no dups at all) would measure the wrong
    * regime. Word w(seed, j) = vocab[xxhash64(seed, j) % 4096]:
    * hash-distinct streams per seed — a linear form in seed would alias
    * whole documents mod the vocab size and plant n²-scale accidental
    * duplicates. Shared by the dedup and sdedup families. */
  def plantedDupText(id: Column, n: Long): Column = {
    val nBase = (n * 9) / 10
    val seed = when(id < nBase, id).otherwise((id - nBase) * 9L)
    concat_ws(" ", (0 until 24).map { j =>
      val word = concat(lit("w"), pmod(xxhash64(seed, lit(j)), lit(4096L)).cast("string"))
      if (j >= 22)
        when(id >= nBase, concat(lit("p"), pmod(id, lit(97L)).cast("string")))
          .otherwise(word)
      else word
    }: _*)
  }

  /** The fuzzy-dedup family: MinHash banding → candidate pairs → Jaccard
    * verify → cluster collapse, plus the sub-document, boilerplate and
    * containment legs, over [[plantedDupText]] — the evidence that the
    * banded (never all-pairs) candidate generation and the pointer-doubled
    * component collapse hold at 10×. Oracle gates: `dedup_minhash`,
    * `dedup_clusters`. The 10M legs need SPARK_DRIVER_MEM=16g (the 8g
    * default OOMed mid-chain on a loaded box in r16). */
  def dedup(c: Ctx, n: Long): Cells = {
    val docs = c.spark.range(0, n, 1, c.parts)
      .select(col("id").as("doc_id"), plantedDupText(col("id"), n).as("text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (_, genSec) = timed(docs.count())

    // At 10 M the WHOLE leg chain runs twice (per-leg first AND min land in
    // the JSON). Legs share persisted intermediates within one rep (pairs'
    // intermediates stay warm for the cluster leg), so per-leg semantics
    // match the single-run protocol of earlier rounds.
    val reps = if (n >= 10000000L) 2 else 1
    val r = firstMin(reps) { lap =>
      // Full chain, the dedup_clusters shape: banding (b=12, r=3) →
      // verified pairs (Jaccard >= 1/2 over 3-shingles) → components.
      val (pairs, nPairs) = lap {
        val p = DedupOps.minhashNearDups(docs, "doc_id", 3, 12, 3, 1, 2)
        (p, p.count())
      }
      val nClustered = lap {
        DedupOps.nearDupClusters(docs, "doc_id", pairs)
          .filter(col("cluster") =!= col("doc_id")).count()
      }
      DedupOps.unpersistPipelines()

      // SUB-DOCUMENT leg (round 12): window-level coverage over the same
      // corpus — 17 positioned spans per doc (24 tokens, k=8), so the
      // span table is the biggest intermediate of the legs and the one
      // that proves the shape at 10×. The planted near-dups share their
      // 22-word prefix, so windows 0..14 of every base/dup pair are
      // duplicated — coverage volume is known to scale linearly with n.
      val cov = lap {
        DedupOps.duplicatedSpanCoverage(docs, "doc_id", 8)
          .agg(sum(when(col("covered_tokens") > 0, 1L).otherwise(0L)),
            sum(col("covered_tokens"))).head()
      }
      DedupOps.unpersistPipelines()

      // BOILERPLATE leg (round 12, second wave): document-frequency
      // coverage at minDocs=2 over the same corpus. This corpus has no
      // self-repeats, so the result must EQUAL the occurrence-based
      // coverage leg — the envelope doubles as a cross-operator
      // consistency check at 10M (bp_tok_cov == covered_tokens), while
      // the cost measures the sh-keyed dedup exchange the operator adds.
      val bp = lap {
        DedupOps.boilerplateCoverage(docs, "doc_id", 8, 2)
          .agg(sum(when(col("bp_covered_tokens") > 0, 1L).otherwise(0L)),
            sum(col("bp_covered_tokens"))).head()
      }
      DedupOps.unpersistPipelines()

      // CONTAINMENT leg (round 12, second wave): the rare-first
      // prefix ⋈ FULL shingle-rows candidate geometry (the r15
      // orientation/positional-filter variants measured slower and were
      // reverted — see containmentNearDups) — the one pairing shape in the
      // library whose cost is bounded by prefix-shingle document
      // frequency rather than banding or blocking. Planted pairs share
      // a 22-word prefix (containment 20/22 > 7/10), so the qualifying
      // pair volume is known to scale linearly with n.
      val nContain = lap {
        DedupOps.containmentNearDups(docs, "doc_id", 3, 7, 10).count()
      }
      (nPairs, nClustered, cov.getLong(0), cov.getLong(1),
        bp.getLong(0), bp.getLong(1), nContain)
    }
    docs.unpersist(blocking = true)
    val (nPairs, nClustered, docsCov, tokCov, docsBp, tokBp, nContain) = r.counts
    val (f, m) = (r.first, r.min)
    cells(f"""{"n":$n,"gen_sec":$genSec%.2f,"reps":$reps,""" +
      f""""pairs_sec":${m(0)}%.2f,"pairs_first":${f(0)}%.2f,"n_pairs":$nPairs,""" +
      f""""cluster_sec":${m(1)}%.2f,"cluster_first":${f(1)}%.2f,"n_clustered":$nClustered,""" +
      f""""substr_sec":${m(2)}%.2f,"substr_first":${f(2)}%.2f,"docs_with_dup_spans":$docsCov,"covered_tokens":$tokCov,""" +
      f""""bp_sec":${m(3)}%.2f,"bp_first":${f(3)}%.2f,"docs_bp":$docsBp,"bp_covered_tokens":$tokBp,""" +
      f""""contain_sec":${m(4)}%.2f,"contain_first":${f(4)}%.2f,"n_contain":$nContain}""")
  }

  /** The graph-analytics family: PageRank, connected components, k-core
    * peel, and the degree-ordered triangle census over a synthetic
    * similarity graph — the evidence that the bounded-round iterative
    * shapes (checkpoint-re-rooted joins, never anything quadratic in
    * nodes) hold at 10×.
    *
    * Node i emits 1 + (xxhash64(i) % 5) directed edges to hash-derived
    * targets (expected ~3n edges, undirected degrees ~2–12 with real
    * variance — a constant-degree graph would make the k-core peel
    * all-or-nothing and measure the wrong regime; hash targets avoid the
    * modular aliasing a linear form would plant). Oracle gates:
    * `graph_pagerank`, `graph_components`, `graph_kcore`,
    * `graph_triangles`. */
  def graph(c: Ctx, n: Long): Cells = {
    // Each 10 M leg runs twice (r14's graph numbers read as regressions
    // but counts were identical); 1 M legs stay single-run (their noise
    // floor is well under the round-over-round deltas that matter).
    val reps = if (n >= 10000000L) 2 else 1
    // Out-degree 1..5 per node (hash-varied), targets hash-derived;
    // self-loops bumped to the successor node.
    val edges = c.spark.range(0, n, 1, c.parts)
      .select(col("id").as("src"),
        explode(sequence(lit(0L), pmod(xxhash64(col("id")), lit(5L)))).as("j"))
      .select(col("src"),
        pmod(xxhash64(col("src"), col("j"), lit(7L)), lit(n)).as("dst"))
      .select(col("src"),
        when(col("dst") === col("src"), pmod(col("src") + 1L, lit(n)))
          .otherwise(col("dst")).as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (nEdges, genSec) = timed(edges.count())

    val pr = firstMin(reps)(lap => lap {
      GraphOps.pageRank(edges, 5).agg(sum("pr")).collect()(0).getLong(0)
    })
    // Production round count: 50 iterations under the ckptEvery = 8
    // re-rooting AND the exact fixed-point early stop — the leg that
    // proves lineage bounding holds when it matters and measures what
    // the early exit buys (bit-identical pr50_mass either way).
    // rounds-executed is carried into the JSON (pr50_rounds) so the
    // wall-clock spread can be attributed: < 50 means the probe fired,
    // = 50 means the win is the final-round checkpoint + box variance.
    val pr50 = firstMin(reps)(lap => lap {
      val (ranks, rounds) = GraphOps.pageRankCounted(edges, 50)
      (ranks.agg(sum("pr")).collect()(0).getLong(0), rounds)
    })
    val cc = firstMin(reps)(lap => lap {
      DedupOps.nearDupClusters(
          c.spark.range(0, n).select(col("id").as("v")), "v",
          edges.select(col("src").as("id_a"), col("dst").as("id_b")))
        .select(countDistinct("cluster")).collect()(0).getLong(0)
    })
    val core = firstMin(reps)(lap => lap(GraphOps.kCore(edges, 4, 12).count()))
    val tri = firstMin(reps)(lap => lap {
      GraphOps.trianglesDegreeOrdered(edges).collect()(0).getLong(2)
    })
    edges.unpersist(blocking = true)
    cells(f"""{"n":$n,"n_edges":$nEdges,"gen_sec":$genSec%.2f,"reps":$reps,""" +
      f""""pagerank_sec":${pr.min(0)}%.2f,"pagerank_first":${pr.first(0)}%.2f,"pr_mass":${pr.counts},""" +
      f""""pagerank50_sec":${pr50.min(0)}%.2f,"pagerank50_first":${pr50.first(0)}%.2f,"pr50_mass":${pr50.counts._1},""" +
      f""""pr50_rounds":${pr50.counts._2},""" +
      f""""cc_sec":${cc.min(0)}%.2f,"cc_first":${cc.first(0)}%.2f,"n_components":${cc.counts},""" +
      f""""kcore_sec":${core.min(0)}%.2f,"kcore_first":${core.first(0)}%.2f,"n_core":${core.counts},""" +
      f""""triangles_sec":${tri.min(0)}%.2f,"triangles_first":${tri.first(0)}%.2f,"n_triangles":${tri.counts}}""")
  }

  /** The behavioral-analytics family: funnel, retention, and
    * session-transition matrix over a synthetic event stream (100k users,
    * 5 event types cycling per user, microsecond times over 30 days) — the
    * linearity evidence that the three shuffle shapes (chained
    * conditional-min + frontier joins; distinct + cohort join; per-user
    * window/lag) hold at 10×. Oracle gates: `evt_funnel`,
    * `evt_retention`, `evt_transitions`. */
  def events(c: Ctx, n: Long): Cells = {
    val spanUs = 30L * 86400000000L
    val types = array(lit("view"), lit("click"), lit("purchase"),
      lit("error"), lit("signup"))
    // BURSTY structure, like real activity logs: each user's events come
    // in 5-event bursts 5 minutes apart (intra-session transitions and
    // funnel conversions exist), with burst starts Knuth-scattered over
    // the 30-day span (cohort/retention structure exists). A uniform
    // scatter would put ~hours between a user's consecutive events —
    // every event its own session, zero transitions; a small stride
    // would park everything on day 0 — one retention cell.
    val ev = c.spark.range(0, n, 1, c.parts).select(
        pmod(col("id"), lit(100000L)).as("user_id"),
        col("id").as("event_id"),
        // Staged modulus keeps every product under 2^63 (ANSI mode
        // faults on overflow — no wrap-as-hash tricks).
        (pmod(pmod(pmod(col("id"), lit(100000L)) * 1000003L +
              expr("(id div 100000) div 5") * 777767777L,
            lit(3474749660383L)) * 100003L,
          lit(spanUs - 3600000000L)) +
          pmod(expr("id div 100000"), lit(5L)) * 300000000L).as("us"),
        element_at(types,
          (pmod(expr("id div 100000"), lit(5L)) + 1).cast("int")).as("event_type"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (_, genSec) = timed(ev.count())

    val (fRows, fSec) = timed {
      EventOps.funnel(ev, "user_id", "us", "event_type",
        Seq("view", "click", "purchase")).collect()
      graft.core.Caches.releaseAll()
      3L
    }
    val (rRows, rSec) = timed {
      val rows = EventOps.retention(ev, "user_id", "us").count()
      graft.core.Caches.releaseAll()
      rows
    }
    val (tRows, tSec) = timed(transitions(ev).count())
    ev.unpersist(blocking = true)
    cells(f"""{"n":$n,"gen_sec":$genSec%.2f,"funnel_sec":$fSec%.2f,"funnel_rows":$fRows,"retention_sec":$rSec%.2f,"retention_rows":$rRows,"transitions_sec":$tSec%.2f,"transitions_rows":$tRows}""")
  }

  /** The evt_transitions shape (sessionize + lead) over an arbitrary
    * event frame — same code the gate runs, parameterized here. */
  private def transitions(ev: DataFrame): DataFrame = {
    val gapUs = 1800L * 1000000L
    val wu = Window.partitionBy("user_id").orderBy("us", "event_id")
    val sess = ev
      .withColumn("brk",
        when(col("us") - lag("us", 1).over(wu) > gapUs, 1).otherwise(0))
      .withColumn("sid", sum("brk").over(wu))
    val ws = Window.partitionBy("user_id", "sid").orderBy("us", "event_id")
    sess.withColumn("nxt", lead("event_type", 1).over(ws))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("nxt").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
  }

  val Dims = 64

  /** An ann leg that did not run: -1 counts and seconds, as the envelopes
    * record. */
  private def skipped[T](counts: T, laps: Int): Reps[T] =
    Reps(counts, Seq.fill(laps)(-1.0), Seq.fill(laps)(-1.0))

  /** The clustered synthetic corpus: center(id % 1024) + 0.3 · noise, every
    * component hash-derived in [-1,1]⁶⁴ — CLUSTERED data, because uniform
    * random high-dimensional vectors have no near neighbors and every ANN
    * method degenerates to chance (real embedding corpora are locally
    * clustered). */
  private def clusteredEmbs(c: Ctx, n: Long): DataFrame = {
    def comp(seed: Int, key: Column, i: Column): Column =
      (pmod(xxhash64(lit(seed), key, i), lit(2001L)).cast("double") /
        lit(1000.0)) - lit(1.0)
    val vec = transform(sequence(lit(0), lit(Dims - 1)), i =>
      (comp(17, pmod(col("id"), lit(1024L)), i) +
        comp(23, col("id"), i) * lit(0.3)).cast("float"))
    c.spark.range(0, n, 1, c.parts)
      .select(col("id").as("vec_id"), vec.as("embedding"))
  }

  /** The similarity-search family: exact brute-force, hyperplane LSH
    * (plain and multi-probe), IVF (seeded, trained, sampled-build), IVF+PQ
    * residual builds, and SQ8 re-rank top-10 over [[clusteredEmbs]] — the
    * evidence that the ANN candidate generation (bucket equi-joins,
    * broadcast probe lists, integer candidate scans) holds at 10× and that
    * approximate recall stays useful at scale. Recall@10 of each
    * approximate path is measured against the exact brute top-10 on the
    * same 8 queries. Oracle gates: `knn_*`, `ann_recall*`.
    *
    * SPARK_GRAFT_SCALE_LEGS (default "lsh,ivf,sq8") picks the approximate
    * legs; brute always runs (it is the recall baseline). The others are
    * lshmp, lshmpsweep, ivfk, ivfkb, ivfpqb, sq8sweep.
    *
    * Heap: the 10M full-leg single-JVM run needs SPARK_DRIVER_MEM=24g. The
    * ivfkb build legs are heap-sensitive below that (16g 140 s vs 24g 116 s,
    * same session, min-of-2): the ~10 GB quantized-corpus cache no longer
    * transits the MemoryStore, and blocks that fail in-memory unroll stream
    * ~2.2× the bytes to disk, which the Lloyd scans and the assignment then
    * re-read — no recompute, no shuffle spill (IVFKB_PROBE_r18.json). The
    * ivfpqb legs are heap-invariant. Sizing rule: give the build a storage
    * ceiling ≥ the quantized-corpus cache (~1 KB/row at d=64). */
  def ann(c: Ctx, n: Long): Cells = {
    def recallAt10(method: DataFrame, brute: DataFrame): Long =
      brute.select(col("qid"), col("nid"))
        .join(method.select(col("qid"), col("nid")), Seq("qid", "nid"),
          "left_semi")
        .count()

    // Leg filter for incremental re-measurement (the LSH leg alone runs
    // ~25 min at 10M — its clustered-data bucket concentration is the
    // finding, not a harness defect).
    val legs = c.list("SPARK_GRAFT_SCALE_LEGS", "lsh,ivf,sq8").toSet

    val embs = clusteredEmbs(c, n).persist(StorageLevel.MEMORY_AND_DISK)
    val (_, genSec) = timed(embs.count())

    val qp = col("vec_id") < 8
    val ((brute, nBrute), bruteSec) = timed {
      val b = VectorOps.knnBrute(embs, "vec_id", "embedding", qp, 10)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (b, b.count())
    }

    def leg(name: String)(body: => Long): Reps[Long] =
      if (legs(name)) firstMin(1)(lap => lap(body)) else skipped(-1L, 1)

    val lsh = leg("lsh") {
      recallAt10(VectorOps.knnLsh(
        embs, "vec_id", "embedding", qp, 10, 4, 12, Dims), brute)
    }

    // The clustered-corpus hardening of the lsh leg: MORE bits
    // (smaller, more selective buckets — at 12 bits a 10M corpus
    // packs ~25k rows per bucket and any useful cap truncates the
    // query's own cluster, measured 42/80), margin-guided flipped
    // probes to recover the per-table recall the extra bits give up,
    // and a per-(table, bucket) candidate cap that bounds per-query
    // work at tables × (1+flips) × cap regardless of cluster density.
    // Design point env-tunable: SPARK_GRAFT_MP="tables,bits,flips,cap"
    // (cap also takes "auto" — the occupancy-sized AutoBucketCap mode,
    // r18's API for the r17 finding that a fixed cap is the 10M recall
    // ceiling; the artifact records the RESOLVED cap either way).
    val Array(mpTS, mpBS, mpFS, mpCapS) =
      c.knob("SPARK_GRAFT_MP", "4,14,3,8192").split(",").map(_.trim)
    val (mpT, mpB, mpF) = (mpTS.toInt, mpBS.toInt, mpFS.toInt)
    val mpCap = if (mpCapS == "auto") VectorOps.AutoBucketCap else mpCapS.toInt
    val mpCapResolved =
      if (mpCap == VectorOps.AutoBucketCap) VectorOps.autoBucketCapFor(n, mpB)
      else mpCap
    val lshmp = leg("lshmp") {
      recallAt10(VectorOps.knnLshMultiProbe(
        embs, "vec_id", "embedding", qp, 10, mpT, mpB, mpF, Dims,
        bucketCap = mpCap), brute)
    }

    // Multi-probe design-point sweep (round 17): at 1M the flipped
    // probes buy recall over plain LSH (70 vs 61/80) but at 10M the two
    // read IDENTICAL (66/80) — the open question is whether the probe
    // budget or the per-bucket candidate cap is what saturates at
    // higher occupancy (at 14 bits a 10M clustered corpus concentrates
    // each cluster into few buckets, so the query's own bucket can
    // exceed the cap and truncation eats what the probes add). The
    // sweep crosses flips × cap around the production point to read
    // which axis moves recall.
    val lshmpSweep: Seq[String] =
      if (!legs("lshmpsweep")) Seq.empty
      else for {
        cap <- Seq(8192, 32768, 131072)
        fl <- Seq(0, 3, 5)
      } yield {
        val (hits, sec) = timed(recallAt10(VectorOps.knnLshMultiProbe(
          embs, "vec_id", "embedding", qp, 10, mpT, mpB, fl, Dims,
          bucketCap = cap), brute))
        graft.core.Caches.releaseAll()
        f"""{"cap":$cap,"flips":$fl,"sec":$sec%.2f,"hits":$hits}"""
      }

    val cpred = col("vec_id") >= 1000L && col("vec_id") < 1064L
    val ivf = leg("ivf") {
      recallAt10(VectorOps.knnIvf(embs, "vec_id", "embedding", qp, 10, cpred, 8),
        brute)
    }

    // TRAINED coarse quantizer (the realistic IVF pipeline): the same
    // 64 seed vectors Lloyd-refined for 3 iterations over the int8-
    // quantized corpus, then the same 8-probe search. Per-scan cost is
    // the native graft_cell_dists loop (the per-centroid higher-order
    // formulation ran interpreted — the LSH lesson, same fix).
    val ivfk = leg("ivfk") {
      recallAt10(VectorOps.knnIvfKmeans(
        embs, "vec_id", "embedding", qp, 10, cpred, 3, 8, Dims), brute)
    }

    // Candidate pool scales with the corpus: a FIXED pool (the old 100)
    // is 1e-5 of a 10M corpus, and int8 dot ties inside the query's own
    // cluster make a pool that small effectively arbitrary — recall@10
    // measured 26→10/80 across 1M→10M at n/10⁴. The HEADLINE cell runs
    // the scaladoc's own guidance for clustered corpora, n/10³ (round
    // 17 — the r16 sweep measured 80/80 there vs 26/80 at n/10⁴ on 10M;
    // a headline at a config the docs tell users not to run understates
    // the method): still a broadcast-sized winners table, exact re-rank
    // cost linear in the pool. The sweep below keeps the n/10⁴ and
    // n/3·10³ cells for the sensitivity story.
    val sq8 = leg("sq8") {
      recallAt10(VectorOps.knnSq8(
        embs, "vec_id", "embedding", qp, 10, math.max(100, (n / 1000L).toInt)),
        brute)
    }

    // SQ8 rerank-pool sweep: the n/10⁴ pool's 26/80 recall (r13) is a
    // pool-size artifact, not a method ceiling — sweep the pool a decade
    // up to read the recall/cost curve (the guidance input: when the
    // memory-bound int8 candidate scan is the right tool, the pool is
    // the knob that buys recall at linear candidate-scan cost).
    val sq8Sweep: Seq[String] =
      if (!legs("sq8sweep")) Seq.empty
      else Seq(10000L, 3000L, 1000L).map { div =>
        val cand = math.max(100, (n / div).toInt)
        val (hits, sec) = timed(recallAt10(VectorOps.knnSq8(
          embs, "vec_id", "embedding", qp, 10, cand), brute))
        graft.core.Caches.releaseAll()
        f"""{"cand":$cand,"sec":$sec%.2f,"hits":$hits}"""
      }

    // Trained-quantizer BUILD comparison: full-scan Lloyd vs the
    // 1-in-(n/1M) hash-sampled training (VectorOps.ivfModelSampled —
    // the FAISS-style bounded-sample recipe). Both timings cover train
    // + the one full-corpus assignment (cells materialized), search
    // excluded; recall is then measured through the model-reuse search
    // path. Build legs run twice at 10M (min build seconds, hits required
    // identical): single-shot 10M builds swing ~2× with page cache — r15's
    // first sample read "sampled slower than full", which the second
    // sample disproved.
    val sampMod = math.max(1L, n / 1000000L).toInt
    val bReps = if (n >= 10000000L) 2 else 1
    val (kbFull, kbSamp) =
      if (!legs("ivfkb")) (skipped(-1L, 1), skipped(-1L, 1))
      else {
        def build(model: => VectorOps.IvfModel): Reps[Long] = firstMin(bReps) { lap =>
          val m = lap { val built = model; built.cells.count(); built }
          recallAt10(VectorOps.knnIvfKmeansFrom(m, embs, "vec_id", qp, 10, 8), brute)
        }
        (build(VectorOps.ivfModel(embs, "vec_id", "embedding", cpred, 3, Dims)),
          build(VectorOps.ivfModelSampled(
            embs, "vec_id", "embedding", cpred, 3, Dims, sampMod)))
      }

    // RESIDUAL IVF+PQ BUILD comparison (round 15): full-scan coarse +
    // residual book training vs the fully sampled build
    // (ivfModelSampled + ivfPqResidualModelSampled at the same
    // 1-in-(n/1M) draw). Timings cover coarse train + m×book train +
    // the coded-index materialization — the whole index build; recall
    // through the model-reuse search. RESIDUAL is the variant that can
    // rank on this corpus: points share one of 1024 centers, so
    // non-residual codes collapse same-center vectors to identical
    // codes (ADC ties — recall ≈ 0 measured on the r15 draft); the
    // residual books quantize the within-center displacement, which is
    // exactly what separates the true top-10.
    //
    // Refined-search readout (round 16): the same indexes searched
    // through the exact refine stage (ADC top-rrCand per query →
    // full-precision cosine top-10 — knnIvfPqResidualRerankFrom, the
    // FAISS IndexRefineFlat composition), timed as a second lap. Raw ADC
    // at m=4 sub-books over 64 dims CANNOT rank a clustered corpus
    // (measured 2/80 at 1M, 0/80 at 10M — same-code ties inside cells);
    // the refine is what makes the compressed index usable, at one
    // broadcast-sized join chain of extra search cost. Pool = n/10³ (min
    // 100): the ADC pool cut is row_number over (adc, nid), so inside a
    // tie group it slices by id — and m=4 tie groups GROW with per-cell
    // occupancy, so the sq8 n/10⁴ guidance under-pools here (measured
    // 10/80 at both 1M and 10M; the 100k smoke's 80/80 at cand=100 was
    // small-tie-group luck). n/10³ keeps the winner list broadcast-sized
    // (8 × n/10³ rows).
    val rrCand = math.max(100, (n / 1000L).toInt)
    val (pqFull, pqSamp) =
      if (!legs("ivfpqb")) (skipped((-1L, -1L), 2), skipped((-1L, -1L), 2))
      else {
        def build(model: => VectorOps.IvfPqResModel): Reps[(Long, Long)] =
          firstMin(bReps) { lap =>
            val m = lap { val built = model; built.coded.count(); built }
            val adc = recallAt10(VectorOps.knnIvfPqResidualFrom(
              m, embs, "vec_id", qp, 10, 8), brute)
            val rr = lap(recallAt10(VectorOps.knnIvfPqResidualRerankFrom(
              m, embs, "vec_id", "embedding", qp, 10, 8, rrCand), brute))
            (adc, rr)
          }
        (build(VectorOps.ivfPqResidualModel(VectorOps.ivfModel(
            embs, "vec_id", "embedding", cpred, 3, Dims), 2, 4)),
          build(VectorOps.ivfPqResidualModelSampled(VectorOps.ivfModelSampled(
            embs, "vec_id", "embedding", cpred, 3, Dims, sampMod), 2, 4, sampMod)))
      }

    brute.unpersist(blocking = false)
    embs.unpersist(blocking = true)
    cells(f"""{"n":$n,"gen_sec":$genSec%.2f,"brute_sec":$bruteSec%.2f,""" +
      f""""n_brute":$nBrute,"lsh_sec":${lsh.min(0)}%.2f,"lsh_hits":${lsh.counts},""" +
      f""""lshmp_sec":${lshmp.min(0)}%.2f,"lshmp_hits":${lshmp.counts},""" +
      s""""lshmp_cap":$mpCapResolved,"lshmp_cap_auto":${mpCap == VectorOps.AutoBucketCap},""" +
      s""""lshmp_sweep":${lshmpSweep.mkString("[", ",", "]")},""" +
      f""""ivf_sec":${ivf.min(0)}%.2f,"ivf_hits":${ivf.counts},""" +
      f""""ivfk_sec":${ivfk.min(0)}%.2f,"ivfk_hits":${ivfk.counts},""" +
      f""""ivfkb_full_sec":${kbFull.min(0)}%.2f,"ivfkb_full_hits":${kbFull.counts},""" +
      f""""ivfkb_samp_sec":${kbSamp.min(0)}%.2f,"ivfkb_samp_hits":${kbSamp.counts},""" +
      f""""ivfkb_samp_mod":$sampMod,""" +
      f""""ivfpqb_full_sec":${pqFull.min(0)}%.2f,"ivfpqb_full_hits":${pqFull.counts._1},""" +
      f""""ivfpqb_samp_sec":${pqSamp.min(0)}%.2f,"ivfpqb_samp_hits":${pqSamp.counts._1},""" +
      f""""ivfpqb_full_rr_hits":${pqFull.counts._2},"ivfpqb_full_rr_sec":${pqFull.min(1)}%.2f,""" +
      f""""ivfpqb_samp_rr_hits":${pqSamp.counts._2},"ivfpqb_samp_rr_sec":${pqSamp.min(1)}%.2f,""" +
      f""""ivfpqb_rr_cand":$rrCand,""" +
      f""""sq8_sec":${sq8.min(0)}%.2f,"sq8_hits":${sq8.counts},""" +
      s""""sq8_sweep":${sq8Sweep.mkString("[", ",", "]")}}""")
  }
}
