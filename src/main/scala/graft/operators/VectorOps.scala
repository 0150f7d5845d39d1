package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search operators over an embedding column (`array<float>`).
  *
  * Two paths:
  *   - [[knnBrute]] — exact cosine top-k, the small-query-set baseline: the
  *     query side is broadcast and every (query, corpus) pair is scored in
  *     one codegen'd scan. Per-query cost is O(corpus); use only when the
  *     query set is small.
  *   - [[knnLsh]] — the 100 TB path: random-hyperplane LSH. Each vector gets
  *     one bucket id per hash table (sign-bits of `bits` hyperplane dot
  *     products); candidates are generated by an equi-join on
  *     (table, bucket) — work is bounded by bucket occupancy, never the
  *     corpus cross-product — then exactly re-scored and ranked.
  *
  * All vector math is double-precision higher-order array expressions
  * (`zip_with` + `aggregate`) — no UDFs. The hyperplanes are deterministic
  * two-decimal constants generated by [[planeValue]], so the DuckDB oracle
  * can bake the identical literals into SQL and replay the whole pipeline.
  */
object VectorOps {

  import graft.plans.GraftFunctions

  /** Embedding column cast to double (float→double widening is exact).
    * A plain array CAST, not a transform — Cast is codegen'd; the HOF
    * form ran interpreted per row on every operator's entry scan. */
  def asDouble(a: Column): Column = a.cast("array<double>")

  /** Sequential-order dot product (matches DuckDB's list_sum fold) — the
    * native codegen'd [[graft.plans.DotProduct]] expression. Requires
    * [[GraftFunctions.register]] on the session before an action runs (the
    * public operators here do it; direct column use must too). */
  def dot(a: Column, b: Column): Column =
    call_function(GraftFunctions.DotName, a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Deterministic hyperplane component j: an LCG folded to a two-decimal
    * value in [-0.99, 0.99]. Two-decimal text parses to the identical double
    * in every engine, which is what makes the SQL oracle exact. */
  def planeValue(j: Int): Double = {
    val h = (1103515245L * (j + 1) + 12345L) & 0x7fffffffL
    ((h % 199L).toInt - 99) / 100.0
  }

  /** Exact SQL text of [[planeValue]]'s output (engine-neutral decimal). */
  def planeText(j: Int): String = {
    val k = ((1103515245L * (j + 1) + 12345L) & 0x7fffffffL) % 199L - 99L
    val a = math.abs(k)
    s"${if (k < 0) "-" else ""}${a / 100}.${"%02d".format(a % 100)}"
  }

  /** Hyperplane (table t, bit b) over `dims` dimensions. */
  def plane(t: Int, b: Int, bits: Int, dims: Int): IndexedSeq[Double] =
    (0 until dims).map(i => planeValue((t * bits + b) * dims + i))

  /** LSH bucket id of vector `v` in table `t`: bit b set iff
    * dot(v, plane(t,b)) ≥ 0. Unrolled at plan-build time. */
  def bucketCol(v: Column, t: Int, bits: Int, dims: Int): Column =
    (0 until bits).map { b =>
      val p = array(plane(t, b, bits, dims).map(lit): _*)
      when(dot(v, p) >= 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Projection-weight component j: the [[planeValue]] LCG family on a
    * DISJOINT index range (LSH plane indices stay ≪ 2²⁰), kept as the raw
    * INTEGER in [-99, 99] — so projections over int8-quantized vectors are
    * all-integer and engine-exact. */
  def projWeight(j: Int): Long =
    ((1103515245L * (j.toLong + (1L << 20) + 1L) + 12345L) & 0x7fffffffL) % 199L - 99L

  /** Deterministic random projection (the Johnson–Lindenstrauss shape:
    * `outDims` fixed pseudo-random integer directions) over the
    * int8-QUANTIZED embedding space — the cheap dimensionality-reduction
    * step before clustering / LSH when `dims` is large. All arithmetic is
    * integer ([[quantizeInt8]]'s exact quantization × [[projWeight]]'s
    * integer weights), so the output replays bit-for-bit in any engine;
    * magnitudes are bounded by 127 · 99 · dims ≪ 2⁶³.
    *
    * Scale shape: pure per-row column expressions — the weights are plan
    * literals, one corpus scan, zero shuffle. Output: (id, proj
    * array<long> of length `outDims`).
    */
  /** Fail-loud guard against NULL vector COMPONENTS — for ungated
    * corpora feeding the graft_dot paths ([[projectInt]], [[knnSq8]],
    * the LSH bucket passes), where a null element silently contributes
    * 0 to dots/projections instead of null-poisoning the row (the
    * documented r13 acceptance note). Wrap the input once:
    * `assertNoNullComponents(embs, "embedding")` — the check fuses into
    * whatever scan consumes the column (one `exists` per row, no extra
    * pass) and throws at the FIRST offending row instead of emitting
    * plausible-but-wrong values. Null ROWS pass through (every operator
    * here already handles whole-null vectors explicitly). */
  def assertNoNullComponents(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn(vecCol,
      // assert_true is null when it passes, so the `when` falls through
      // to the original column; a plain sidecar column would be pruned.
      when(assert_true(
          coalesce(!exists(col(vecCol), _.isNull), lit(true)),
          lit(s"$vecCol carries a null component — graft_dot paths read " +
            "it as 0; clean or filter the corpus upstream")).isNull,
        col(vecCol)))

  def projectInt(embs: DataFrame, idCol: String, vecCol: String,
                 outDims: Int, dims: Int): DataFrame = {
    require(outDims >= 1 && outDims <= dims,
      s"outDims must be in 1..dims: $outDims vs $dims")
    GraftFunctions.register(embs.sparkSession)
    // Integer-valued projections computed on the native graft_dot over
    // double arrays: |q_i| ≤ 127, |w| ≤ 99, so every term ≤ 12573 and a
    // 64-term sum ≤ ~10⁶ — integer-exact in double, cast back to the
    // long the oracle replays. The former aggregate(zip_with(...)) per
    // direction ran interpreted (see graft.plans.LshBuckets's scaladoc).
    // DIVERGENCE on malformed input: graft_dot reads a null array
    // ELEMENT as 0.0 where the HOF fold emitted a null projection —
    // row-level nulls and length drift still surface as null; a null
    // component now contributes 0 (the decodeBmp-style documented
    // acceptance note; gated corpora carry no null components).
    val q = quantized(embs, idCol, vecCol)
      .select(col("id"), transform(col("q"), _.cast("double")).as("v"))
    val cols = (0 until outDims).map { j =>
      val w = Array.tabulate(dims)(i => projWeight(j * dims + i).toDouble)
      dot(col("v"), array(w.map(lit(_)): _*)).cast("long")
    }
    q.select(col("id"), array(cols: _*).as("proj"))
  }

  /** Exact cosine top-k: for each query vector (rows satisfying
    * `queryPred`), the `k` nearest corpus vectors by cosine, ranked with a
    * deterministic (sim desc, id asc) tiebreak. Query side is broadcast —
    * one corpus scan total. */
  def knnBrute(embs: DataFrame, idCol: String, vecCol: String,
               queryPred: Column, k: Int): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    val e = embs.select(col(idCol).as("nid"), asDouble(col(vecCol)).as("v"))
    val q = embs.filter(queryPred)
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("v")).as("sim"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk").cast("long").as("rnk"))
  }

  /** HARD-NEGATIVE MINING: for each query vector, the `k` most-similar
    * corpus vectors carrying a DIFFERENT label — the contrastive-training
    * data-generation step (the negatives that are hardest to separate
    * from the anchor are the ones worth training on). Identical ranking
    * contract to [[knnBrute]] (cosine desc, id tiebreak), restricted to
    * cross-label pairs; exact one-scan baseline — at index scale the
    * same label filter rides any of the bucketed ANN paths
    * ([[knnLsh]]/[[knnIvf]]) as a post-candidate predicate, since a
    * label is corpus metadata, not index geometry. */
  def hardNegatives(embs: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queryPred: Column, k: Int): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    val e = embs.select(col(idCol).as("nid"), col(labelCol).as("nlbl"),
      asDouble(col(vecCol)).as("v"))
    val q = embs.filter(queryPred)
      .select(col(idCol).as("qid"), col(labelCol).as("qlbl"),
        asDouble(col(vecCol)).as("qv"))
    e.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid") && !(col("nlbl") <=> col("qlbl")))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("v")).as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk").cast("long").as("rnk"))
  }

  /** Exact MAXIMUM-INNER-PRODUCT top-k: for each query vector, the `k`
    * corpus vectors with the largest dot product — the retrieval
    * objective when embedding NORM carries signal (recommendation /
    * retrieval-trained embeddings score q·v, not angle; MIPS and cosine
    * NN genuinely differ whenever corpus norms vary). Same one-scan
    * broadcast shape as [[knnBrute]]; the ranking expression is the
    * native codegen'd [[graft.plans.DotProduct]] directly — no norms, a
    * third of the brute-cosine dot-product work.
    *
    * Scale note: the standard sublinear path is the norm-augmentation
    * reduction (append √(M²−‖v‖²) to each corpus vector, M = max norm;
    * MIPS becomes cosine NN over d+1 dims) feeding any [[knnLsh]]-style
    * index — the augmented column is one more per-row expression, so the
    * reduction composes with every index here unchanged. */
  def knnMips(embs: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    val e = embs.select(col(idCol).as("nid"), asDouble(col(vecCol)).as("v"))
    val q = embs.filter(queryPred)
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
    e.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), dot(col("qv"), col("v")).as("ip"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("ip").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk").cast("long").as("rnk"))
  }

  /** Scalar-quantized ANN (the FAISS SQ8 shape): candidates are ranked by
    * the INTEGER dot product over int8-quantized vectors — a 4×-compressed
    * index whose scan is pure integer arithmetic — and the top `cand` per
    * query are re-ranked exactly by full-precision cosine to the final
    * top-`k`. This is the compression point between a raw-float scan
    * ([[knnBrute]]) and codebook methods ([[knnPq]]): no training, one
    * byte per component, and the re-rank bounds the quantization loss to
    * candidate-selection error only (measured by the `ann_recall_sq8`
    * gate against the exact baseline).
    *
    * DETERMINISM: quantization ([[quantizeInt8]]'s floor(x/scale + 0.5))
    * and the candidate ranking (integer dot, (dot desc, id) tie-break)
    * are engine-exact, so the candidate SET replays bit-for-bit in the
    * SQL oracle; the re-rank follows [[knnBrute]]'s deterministic order.
    *
    * Scale shape: one corpus scan against the broadcast quantized query
    * side scores all candidates (integer multiply-adds — SIMD-friendly
    * and codegen'd); the re-rank joins the `cand × |Q|` winner list
    * (broadcast) back to the float corpus, so full-precision vectors are
    * touched for candidate rows only. Per-query cost is O(corpus) like
    * every flat index — the sublinear composition is SQ8 *inside* IVF
    * cells ([[knnIvfKmeans]] restricting the scan), unchanged here.
    *
    * POOL-SIZE GUIDANCE (measured, SCALE_ANN_r14 `sq8_sweep` on 10M
    * clustered 64-dim vectors): recall@10 is a pool-size knob, not a
    * method ceiling — cand = n/10⁴ gives 26/80, n/3·10³ gives 61/80,
    * n/10³ gives 80/80, at candidate-scan cost that stays one integer
    * corpus pass (the re-rank join grows linearly in `cand` but is
    * broadcast-sized throughout). Start at cand ≈ n/10³ on clustered
    * corpora; SQ8 is the right tool when memory (4× compression, no
    * training pass) matters more than the scan being flat — prefer
    * trained IVF ([[knnIvfKmeans]] / [[ivfModelSampled]]) when a
    * training pass is affordable and sublinear probing is wanted. */
  def knnSq8(embs: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, k: Int, cand: Int): DataFrame = {
    require(cand >= k, s"cand must be >= k: $cand vs $k")
    GraftFunctions.register(embs.sparkSession)
    // int8 codes carried as DOUBLE arrays so the candidate ranking runs
    // on the native codegen'd graft_dot: every product is ≤ 127² and the
    // 64-term sum ≤ ~10⁶ — integer-exact in double, so the ranking (and
    // the oracle's integer replay) is unchanged, while the former
    // aggregate(zip_with(...)) formulation paid interpreted lambda
    // evaluation per (corpus row × query) pair — the out-of-codegen
    // failure measured on the LSH bucket pass. (Null array ELEMENTS
    // score as 0 instead of null-poisoning the pair — projectInt's
    // documented divergence note applies here too.)
    val qz = quantized(embs, idCol, vecCol)
      .select(col("id"), transform(col("q"), _.cast("double")).as("iv"))
    val corpus = qz.select(col("id").as("nid"), col("iv").as("nv"))
    val queries = qz
      .join(embs.filter(queryPred).select(col(idCol).as("id")),
        Seq("id"), "left_semi")
      .select(col("id").as("qid"), col("iv").as("qv"))
    val idot = dot(col("qv"), col("nv"))
    val winners = corpus.crossJoin(broadcast(queries))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), idot.as("idot"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("idot").desc, col("nid"))))
      .filter(col("crnk") <= cand)
      .select(col("qid"), col("nid"))
    exactRerank(winners, embs, idCol, vecCol, queryPred, k)
  }

  /** The exact-cosine refine stage shared by every candidate-then-refine
    * index ([[knnSq8]], [[knnIvfPqResidualRerank]] — the FAISS
    * `IndexRefineFlat` shape): re-rank a (qid, nid) candidate list by
    * full-precision cosine to the final top-`k`. The candidate list is
    * model-scale by contract (queries × pool), so it broadcasts; the
    * float corpus is touched for candidate rows only (the `nid` join
    * prunes the scan), and the query vectors broadcast alongside.
    * Deterministic (sim desc, nid) order — [[knnBrute]]'s tiebreak, so a
    * SQL oracle replays the refine exactly. Output: (qid, nid, rnk ≤ k). */
  private def exactRerank(winners: DataFrame, embs: DataFrame, idCol: String,
                          vecCol: String, queryPred: Column,
                          k: Int): DataFrame = {
    val fv = embs.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    broadcast(winners)
      .join(fv.select(col("id").as("nid"), col("v").as("nv")), "nid")
      .join(broadcast(fv.join(embs.filter(queryPred).select(col(idCol).as("id")),
          Seq("id"), "left_semi")
        .select(col("id").as("qid"), col("v").as("qv"))), "qid")
      .select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk").cast("long").as("rnk"))
  }

  /** The flat t-major plane-matrix literal of a (tables, bits, dims)
    * design point — [[plane]]'s rows concatenated in
    * [[planeValue]]'s (t·bits + b)·dims + i index order, the layout
    * [[graft.plans.LshBuckets]] consumes. */
  private def planesLit(tables: Int, bits: Int, dims: Int): Column =
    array((0 until tables * bits * dims).map(j => lit(planeValue(j))): _*)

  /** All `tables` bucket ids of `v` at once — the native
    * [[graft.plans.LshBuckets]] loop. Bit-for-bit [[bucketCol]] per
    * table; ~50× its corpus-scan cost at the 4-table design points (the
    * per-bit formulation's 48-dot expression tree falls out of
    * whole-stage codegen — see the expression's scaladoc). */
  private[graft] def bucketsCol(v: Column, tables: Int, bits: Int, dims: Int): Column =
    call_function(GraftFunctions.LshBucketsName,
      v, planesLit(tables, bits, dims), lit(bits), lit(dims))

  /** LSH top-k: bucket every vector in `tables` hash tables, equi-join
    * queries to corpus on (table, bucket), then exact-rank the candidate
    * union. Recall is tunable via tables × bits; the join never touches
    * non-colliding pairs.
    *
    * SCALE GUIDANCE (measured, SCALE_ANN_r13.json / SCALING.md): the
    * r12 "~50× IVF at 10M" finding against this operator was an ENGINE
    * artifact, not an algorithmic one — the per-bit bucket formulation
    * (48 [[dot]] calls at the 4×12 design point) fell out of whole-stage
    * codegen and the corpus bucket pass ran interpreted at ~140 μs/row;
    * with the native [[graft.plans.LshBuckets]] loop the same design
    * point runs 1483 → 16–72 s at 10M clustered vectors (the residual
    * spread is single-box page-cache state, SCALE_ANN_r13), identical
    * 66/80 recall — the same order as IVF's wall-clock. The remaining
    * honest trade on clustered corpora: trained cells still deliver
    * higher recall (IVF 80/80), and this operator's candidate union is
    * unbounded in cluster density — [[knnLshMultiProbe]] adds the
    * per-bucket cap + margin-guided probes that bound worst-case
    * candidate work at the same measured recall. Prefer IVF when a
    * training pass is possible; LSH (multi-probe at scale) when not.
    *
    * RESOURCE CONTRACT (changed with the delegation): the search now
    * persists its bounded candidate table via [[graft.core.Caches]] —
    * release after consuming the result
    * ([[graft.core.Caches.releaseAll]] / [[graft.core.Caches.scoped]]),
    * the same obligation [[knnGraph]]/[[cosNearDups]] always had. */
  def knnLsh(embs: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, k: Int, tables: Int, bits: Int, dims: Int): DataFrame =
    // Base-bucket LSH IS multi-probe at zero flips, and the multi-probe
    // dataflow (ids-only bucket rows, broadcast probe side, candidate
    // dedup on id pairs, norm-precomputed re-rank) is strictly better
    // than the original wide-row formulation — 10M wall-clock measured
    // 16–72 s (page-cache-dependent) there vs a stable ~16 s here. The
    // candidate set and ranking are identical (spec-pinned against an
    // independent per-bit reimplementation).
    knnLshMultiProbe(embs, idCol, vecCol, queryPred, k, tables, bits, 0, dims)

  /** Keep at most `cap` rows per (table, bucket) cell, ranked by
    * `xxhash64(t, bucket, id)` with id as the tiebreak — a deterministic
    * pseudo-random truncation (NOT lowest-id: that would keep the SAME
    * survivors in every table, so a dropped vector could never surface
    * as a candidate anywhere; hashing the cell key in makes survival
    * independent across tables/buckets, which is what preserves
    * multi-table recall under truncation). xxhash64 is engine-INTERNAL:
    * deterministic across runs and partitionings here, but a SQL oracle
    * cannot replay which rows a hot cell keeps — the oracle contract is
    * the UNCAPPED candidate set (the cap is a scale guard that never
    * engages at fixture scale; [[DedupOps.DefaultMaxBucket]]'s note),
    * and the md5-fold alternative costs a per-row string hash over the
    * whole index (~2 corpus-scan equivalents at 10M×4 tables, measured).
    * `row_number` + rank filter plans as WindowGroupLimit — each map
    * task forwards at most `cap` rows per cell, so a corpus-sized
    * degenerate bucket never concentrates in one task. Inspect what a
    * cap drops with [[DedupOps.hotBuckets]] over the same keys. */
  /** Sentinel for [[knnLshMultiProbe]]'s `bucketCap`: size the cap from
    * corpus occupancy instead of hand-tuning a constant
    * ([[autoBucketCapFor]]). */
  val AutoBucketCap: Int = -1

  /** Occupancy multiple behind [[AutoBucketCap]]. Anchored on the
    * SCALE_ANN_r17 `lshmp_sweep` (4 tables × 14 bits, clustered 10M):
    * mean occupancy n/2^bits is 611 there, and recall saturates between
    * cap 32,768 (76/80) and 131,072 (78/80) — i.e. ~54–215× the mean,
    * because a CLUSTERED corpus concentrates each cluster into few
    * buckets, so the live buckets run far above the mean. 64× lands the
    * auto cap at 39,104 for that design point (the measured-saturated
    * regime) while 1M resolves to 3,968 — above its ~977-row cluster
    * size, so no truncation engages (the 1M axis measured flat). */
  val AutoCapOccupancyMultiple = 64

  /** The [[AutoBucketCap]] sizing rule: `multiple × ceil(n / 2^bits)`,
    * floored at 1024 so tiny corpora (gate fixtures, smoke runs) always
    * resolve to a cap far above their bucket sizes — auto behaves as the
    * documented no-op there, keeping the uncapped-oracle contract. */
  def autoBucketCapFor(n: Long, bits: Int): Int = {
    val meanOcc = (n + (1L << bits) - 1) / (1L << bits)
    // Clamp BEFORE the multiply: a pathological n/bits pair must saturate
    // to uncapped, not wrap Long-negative and floor to 1024.
    val cap = AutoCapOccupancyMultiple * math.min(meanOcc, Int.MaxValue.toLong)
    math.max(1024L, math.min(cap, Int.MaxValue.toLong)).toInt
  }

  private def capBuckets(rows: DataFrame, cap: Int): DataFrame =
    if (cap == Int.MaxValue) rows
    else {
      require(cap >= 1, s"bucketCap must be >= 1: $cap")
      rows.withColumn("__rn", row_number().over(
          Window.partitionBy("t", "bucket").orderBy(
            xxhash64(col("t"), col("bucket"), col("id")), col("id"))))
        .filter(col("__rn") <= cap)
        .drop("__rn")
    }

  /** Per-table probe set of a query vector: the base bucket plus the
    * single-bit flips of the `flips` lowest-|margin| hyperplanes — the
    * step-1 probing sequence of multi-probe LSH (Lv, Josephson, Wang,
    * Charikar, Li, "Multi-Probe LSH", VLDB 2007): a near neighbor that
    * lands across a hyperplane the query barely cleared sits in exactly
    * such a flipped bucket, so probing them recovers the recall extra
    * tables would buy at `flips`× less index. Margin ties break to the
    * lowest bit; flip masks are plan literals (struct-sorted via
    * array_sort — no shift-by-column). */
  private def probeStruct(t: Int, bits: Int, dims: Int, flips: Int): Column = {
    val pjs = (0 until bits).map(b =>
      dot(col("v"), array(plane(t, b, bits, dims).map(lit): _*)))
    val base = pjs.zipWithIndex.map { case (p, b) =>
      when(p >= 0, lit(1 << b)).otherwise(lit(0)) }.reduce(_ + _)
    val margins = array(pjs.zipWithIndex.map { case (p, b) =>
      struct(abs(p).as("m"), lit(b).as("b"), lit(1 << b).as("mask")) }: _*)
    val probes = concat(array(base),
      transform(slice(array_sort(margins), 1, flips),
        s => base.bitwiseXOR(s.getField("mask"))))
    struct(lit(t).as("t"), probes.as("probes"))
  }

  /** MULTI-PROBE LSH top-k — the clustered-corpus hardening of [[knnLsh]]
    * (measured SCALE_ANN_r12: plain hyperplane LSH costs ~50× trained IVF
    * at 10M clustered vectors because every table pulls the query's whole
    * cluster into the candidate union). Three changes close the gap:
    *
    *   - MULTI-PROBE (Lv et al., VLDB 2007): each query probes its base
    *     bucket plus `flips` single-bit-flip buckets per table
    *     ([[probeStruct]]) — so a design point can spend MORE bits
    *     (smaller, more selective buckets) and FEWER tables at equal
    *     recall, shrinking both the index and the candidate union.
    *   - Per-(table, bucket) candidate CAP: cells above `bucketCap` rows
    *     are deterministically truncated ([[capBuckets]]) — per-query
    *     candidate work is bounded by tables × (1+flips) × bucketCap
    *     regardless of how dense the query's cluster is. Survival is
    *     independent across tables, so a truncated neighbor still
    *     surfaces elsewhere.
    *   - IDS-ONLY dataflow: bucket rows carry (id, t, bucket) longs, the
    *     probe side is explicitly broadcast, candidates dedup as id
    *     pairs, and vectors join back norm-precomputed for ONE exact
    *     cosine per distinct candidate ([[cosNearDups]]'s shape) — the
    *     wide-row shuffles of the original join never happen.
    *
    * CAP SIZING (measured, SCALE_ANN_r17 `lshmp_sweep` at 1M/10M, 4×14b):
    * the cap must SCALE with per-bucket occupancy or it — not the probe
    * budget — becomes the recall ceiling. At 1M (clusters fit under
    * 8192/bucket) the cap axis is flat: 8k/32k/128k all read 51/70/73 of
    * 80 at flips 0/3/5. At 10M the query's own cluster overflows a fixed
    * 8192 cap and truncation eats what the probes add: flips 3→5 at
    * cap 8192 moves 66→68 only, while cap 8192→32768 at flips 3 moves
    * 66→76 (131072/5 reads 78) at similar wall-clock. Size bucketCap
    * ≈ a small multiple of n·(cluster share)/2^bits — the bounded
    * worst-case work guarantee stays tables × (1+flips) × cap either way.
    * Pass [[AutoBucketCap]] to apply that sizing rule automatically
    * ([[autoBucketCapFor]] — one column-pruned count of the corpus
    * resolves n; SCALE_ANN_r18 gates the auto point at 10M).
    *
    * All arithmetic is the established engine-exact family (sequential
    * [[dot]], [[planeValue]] literal hyperplanes, [[CorpusOps.hashDrawCol]]
    * truncation ranks), so a SQL oracle replays base buckets, margins,
    * flip sets, and ranking bit-for-bit. Like the other LSH joins, the
    * oracle gates replay UNCAPPED (fixtures sit far below any honest cap
    * — [[DedupOps.DefaultMaxBucket]]'s contract); `Int.MaxValue` (the
    * default) disables the cap. The persisted candidate table registers
    * with [[graft.core.Caches]] — consume the result, then release
    * ([[graft.core.Caches.releaseAll]] / [[graft.core.Caches.scoped]]).
    * Output: (qid, nid, rnk ≤ k). */
  def knnLshMultiProbe(embs: DataFrame, idCol: String, vecCol: String,
                       queryPred: Column, k: Int, tables: Int, bits: Int,
                       flips: Int, dims: Int,
                       bucketCap: Int = Int.MaxValue): DataFrame = {
    require(flips >= 0 && flips < bits,
      s"flips must be in 0 until bits: $flips vs $bits")
    require(bits <= 30, s"bucket ids are Int bit masks: bits=$bits")
    require(bucketCap == AutoBucketCap || bucketCap >= 1,
      s"bucketCap must be >= 1, Int.MaxValue (uncapped), or AutoBucketCap: $bucketCap")
    GraftFunctions.register(embs.sparkSession)
    val e = embs.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // AUTO cap resolution (round 18, from the r17 cap-sweep finding that
    // a fixed cap — not the probe budget — is the 10M recall ceiling):
    // one column-pruned count resolves n, then the scaladoc's occupancy
    // rule sizes the cap. The count is the only extra job (ids-only scan;
    // against a persisted corpus it is a cached-partition count).
    val cap =
      if (bucketCap == AutoBucketCap) autoBucketCapFor(e.count(), bits)
      else bucketCap
    // Corpus index rows: three longs each — the hyperplane math is ONE
    // native LshBuckets loop per row and no vector ever enters the
    // bucket shuffle.
    val bucketed = capBuckets(
      e.select(col("id"),
        posexplode(bucketsCol(col("v"), tables, bits, dims)).as(Seq("t", "bucket"))),
      cap)
    // Probe rows: (qid, t, bucket) for the base + flipped buckets; the
    // probe expressions evaluate on the filtered query rows only.
    val qpr = e
      .join(embs.filter(queryPred).select(col(idCol).as("id")), Seq("id"), "left_semi")
      .select(col("id").as("qid"),
        explode(array((0 until tables).map(t =>
          probeStruct(t, bits, dims, flips)): _*)).as("tp"))
      .select(col("qid"), col("tp.t").as("t"),
        explode(col("tp.probes")).as("bucket"))
    // Persisted (release via Caches.releaseAll): the candidate table is
    // consumed twice (the corpus-pruning semi-join and the final re-rank
    // join); without the cache each consumer re-runs the WHOLE
    // hyperplane + cap pipeline —
    // measured as a flat 2× on the 1M envelope. Bounded rows: two longs
    // per candidate, ≤ queries × tables × (1+flips) × bucketCap.
    val cand = graft.core.Caches.persistTracked(
      broadcast(qpr).join(bucketed, Seq("t", "bucket"))
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id").as("nid"))
        .distinct())
    // Exact re-rank: query vectors broadcast (small by contract). The
    // candidate side prunes the corpus by a semi-join; the broadcast
    // HINT on the candidate ids applies only when `bucketCap` bounds
    // them (≤ queries × tables × (1+flips) × bucketCap rows — then the
    // corpus is scanned, never shuffled, for the vector fetch). Uncapped
    // candidates are unbounded in cluster density, so the hint would
    // force an arbitrarily large driver collect — leave the join to AQE,
    // which broadcasts when the runtime size allows and shuffles when it
    // must.
    val side = e.select(col("id"), col("v"),
      sqrt(dot(col("v"), col("v"))).as("nrm"))
    val qv = side
      .join(embs.filter(queryPred).select(col(idCol).as("id")), Seq("id"), "left_semi")
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val nids = cand.select(col("nid").as("id")).distinct()
    val nv = side
      .join(if (cap == Int.MaxValue) nids else broadcast(nids),
        Seq("id"), "left_semi")
      .select(col("id").as("nid"), col("v").as("nv"), col("nrm").as("nn"))
    cand
      .join(broadcast(qv), "qid")
      .join(nv, "nid")
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk").cast("long").as("rnk"))
  }

  /** k-NN GRAPH: top-`k` neighbors for EVERY corpus vector — the
    * corpus-vs-corpus shape a SemDeDup-style curation step needs (cluster
    * the neighbor graph, keep one doc per semantic cluster), where
    * [[knnBrute]]/[[knnLsh]] rank neighbors for a small query set only.
    *
    * Same candidate generation as [[knnLsh]] (equi-join on the (table,
    * bucket) LSH cells — never all-pairs; recall tunable via tables × bits)
    * run symmetrically: candidates materialize ONCE per unordered pair
    * (id_a < id_b), the exact cosine is computed once per pair on
    * norm-precomputed vectors, and the scored pair then feeds BOTH
    * directions of the ranking window — half the dot products of a naive
    * directed join. Ranking partitions are per-vector candidate lists
    * (bounded by bucket occupancy × tables, not the corpus), and Spark's
    * WindowGroupLimit prunes to rank ≤ k before the final sort.
    *
    * (table, bucket) cells above `maxBucket` rows are excluded
    * ([[graft.operators.DedupOps.dropHotBuckets]] — same guard and same
    * exact-dedup-first contract as [[cosNearDups]]). Output:
    * (qid, nid, sim-rank 1..k) for every vector with ≥ 1 colliding
    * neighbor. */
  def knnGraph(embs: DataFrame, idCol: String, vecCol: String, k: Int,
               tables: Int, bits: Int, dims: Int,
               maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    val e = embs.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // Persisted (release via Caches.releaseAll): feeds the
    // guard's count window and both candidate join sides. IDS-ONLY —
    // three longs per (row, table): persisting the vector replicated per
    // table (the previous shape) multiplies the cache by tables × the
    // embedding width (~25 GB at 10M × 4 tables × 64 floats vs ~1 GB);
    // the norms side re-scans the corpus once instead, which is the
    // right trade at any scale where the cache matters.
    val bucketed = DedupOps.dropHotBuckets(
      graft.core.Caches.persistTracked(
        e.select(col("id"),
          posexplode(bucketsCol(col("v"), tables, bits, dims))
            .as(Seq("t", "bucket")))),
      Seq("t", "bucket"), maxBucket)
    // ids-only distinct: the dedup shuffle carries two longs per unordered
    // candidate pair (the cosNearDups shape).
    val cand = bucketed.as("a").join(bucketed.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val side = e
      .select(col("id"), col("v"), sqrt(dot(col("v"), col("v"))).as("nrm"))
    // Persisted: both directions of the union consume the scored pairs, and
    // without the cache Catalyst re-runs the join+dot pipeline per branch —
    // exactly the doubling the unordered-pair shape exists to avoid. Three
    // narrow columns per candidate pair; spills if it outgrows memory.
    val scored = graft.core.Caches.persistTracked(cand
      .join(side.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(side.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim")))
    val directed = scored
      .select(col("id_a").as("qid"), col("id_b").as("nid"), col("sim"))
      .unionAll(scored.select(col("id_b").as("qid"), col("id_a").as("nid"), col("sim")))
    directed
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk").cast("long").as("rnk"))
  }

  /** IVF (inverted-file) top-k — the cell-partitioned ANN scale path:
    * a small set of coarse-quantizer centroids (here: corpus vectors picked
    * by `centroidPred` — deterministic, so the SQL oracle can replay the
    * whole index) is broadcast against the corpus once; every vector joins
    * its single nearest cell (argmax cosine, ties to the lowest centroid
    * id), and a query scans only its `probes` nearest cells' vectors, then
    * exact-ranks them.
    *
    * Scale shape: the corpus×centroids score is a broadcast nested loop
    * (K ≪ N), the cell assignment is a map-side-combined argmax aggregate —
    * the shuffle carries one partial per vector, NOT K scored rows, so the
    * plan survives K growing to realistic IVF sizes (1024+). Candidate
    * generation broadcasts the (queries × probes) probe list against the
    * cell assignment — one corpus scan, and no shuffle keyed on the K
    * distinct cell ids (which would be maximally skewed). Like [[knnBrute]],
    * the query set is assumed small; the corpus side is never replicated.
    */
  def knnIvf(embs: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, k: Int, centroidPred: Column,
             probes: Int): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    val e = embs.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val cent = embs.filter(centroidPred)
      .select(col(idCol).as("cid"), asDouble(col(vecCol)).as("cv"))
    val scored = e.crossJoin(broadcast(cent))
      .select(col("id"), col("v"), col("cid"),
        cosine(col("v"), col("cv")).as("sim"))
    // Nearest cell per vector: max(struct) = highest sim, then lowest cid
    // (cid is unique per group, so the trailing v field never drives the
    // comparison — it just rides along to avoid re-joining the corpus).
    val cells = scored.groupBy("id")
      .agg(max(struct(col("sim").as("s"), (-col("cid")).as("nc"),
        col("v").as("v"))).as("m"))
      .select(col("id"), (-col("m.nc")).as("cid"), col("m.v").as("v"))
    // Probe list: each query's `probes` nearest cells (window over the
    // query subset only — tiny by contract).
    val probed = scored
      .join(embs.filter(queryPred).select(col(idCol).as("id")), Seq("id"), "left_semi")
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("sim").desc, col("cid"))))
      .filter(col("rn") <= probes)
      .select(col("id").as("qid"), col("v").as("qv"), col("cid"))
    broadcast(probed).join(cells, "cid")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"),
        cosine(col("qv"), col("v")).as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk").cast("long").as("rnk"))
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * storage-compression step before shipping vectors at corpus scale:
    * per-vector scale = max|x| / 127, q_i = ⌊x_i/scale + 0.5⌋ (explicit
    * floor(+0.5), NOT round() — half-even vs half-away rounding differs
    * across engines, floor arithmetic does not). All-zero vectors quantize
    * to zeros with scale 0. Pure per-row column expressions — embarrassingly
    * parallel, no shuffle. Output: (id, scale, q array<long>).
    */
  def quantizeInt8(embs: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantized(embs, idCol, vecCol).select(col("id"), col("scale"), col("q"))

  /** Per-group integer centroids over the int8-quantized embedding space —
    * the class-prototype build (mean vector per label / source / cluster)
    * that powers centroid classifiers, per-source drift monitors, and
    * cluster summarization. Quantization first makes the distributed mean
    * engine-exact: dimension sums are integer (order-independent) and the
    * mean is the round-half-away integer division of [[roundDiv]], so a
    * SQL oracle replays the centroid bit-for-bit — the same determinism
    * argument as the [[kmeansAssign]] centroid update.
    *
    * Output: one row per (group, dim 1-based) with the centroid component
    * and the group's row count — the exploded layout keeps the gate's
    * value-level hash sensitive to every single component.
    *
    * Scale shape: quantize is per-row column work; posexplode fans each
    * row into `dims` (group, dim, q) triples that partial-aggregate
    * map-side before the one groupBy shuffle — state after the shuffle is
    * groups × dims, corpus-independent. */
  def groupCentroids(embs: DataFrame, vecCol: String,
                     groupCol: String): DataFrame =
    quantized(embs, groupCol, vecCol) // "id" = the group key (needn't be unique)
      .select(col("id").as("grp"),
        posexplode(col("q").cast("array<long>")).as(Seq("d0", "qv")))
      .groupBy(col("grp"), (col("d0") + 1).as("dim"))
      .agg(sum("qv").as("s"), count(lit(1)).as("n"))
      .select(col("grp"), col("dim").cast("long").as("dim"),
        when(col("s") < 0, -expr("(2 * (-s) + n) div (2 * n)"))
          .otherwise(expr("(2 * s + n) div (2 * n)")).as("c"),
        col("n"))

  /** Shared quantization core: (id, fv = doubles, scale, q) — the single
    * source of the formula for [[quantizeInt8]] and [[trainKmeans]]. */
  private def quantized(embs: DataFrame, idCol: String, vecCol: String): DataFrame =
    embs
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("fv"))
      // max |x| = max(array_max, −array_min) — two codegen'd array scans
      // instead of an interpreted per-element abs transform.
      .withColumn("scale",
        greatest(array_max(col("fv")), -array_min(col("fv"))) / lit(127.0))
      .withColumn("q",
        when(col("scale") > 0,
          transform(col("fv"), x => floor(x / col("scale") + lit(0.5))))
          .otherwise(array_repeat(lit(0L), size(col("fv")))))

  /** Round-half-away-from-zero integer mean component — the centroid
    * update of [[kmeansAssign]], kept in integer arithmetic so every engine
    * computes the identical centroid (nonnegative operands make truncating
    * and flooring division agree). */
  private def roundDiv(s: Long, n: Long): Long = {
    val a = (2L * math.abs(s) + n) / (2L * n)
    if (s < 0) -a else a
  }

  /** Distributed Lloyd k-means over the int8-quantized embedding space —
    * the index-construction step an IVF deployment actually needs (the
    * [[knnIvf]] coarse quantizer is "trained" here instead of sampled).
    *
    * DETERMINISM BY CONSTRUCTION: classic k-means is not exactly
    * reproducible across engines (a distributed float mean depends on
    * summation order), so this variant operates on the int8-quantized
    * vectors ([[quantizeInt8]] — exact) with integer squared-L2 distances
    * and round-half-away integer centroid components. Every sum that
    * crosses a shuffle is an integer sum — associative, order-free — so a
    * SQL oracle replays the whole training run bit-for-bit, and a re-run
    * on different partitioning cannot flip a single assignment.
    *
    * Scale shape: per iteration, ONE corpus scan computes the argmin cell
    * (an `array_min` over K literal centroid expressions — no join, no
    * shuffle on the K cell ids) and one map-side-combined aggregation
    * reduces (count, per-dimension sums) to K rows; only those K×dims
    * integers ever reach the driver, which is hyperparameter-sized at any
    * corpus scale. Empty cells keep their previous centroid. The quantized
    * corpus is persisted across the `iters + 1` scans and registered with
    * [[graft.core.Caches]] — release after consuming the result.
    *
    * Output: (vec_id, cid, dist) — final cell per vector and its integer
    * squared distance; cid is the seeding vector's id.
    */
  def kmeansAssign(embs: DataFrame, idCol: String, vecCol: String,
                   centroidPred: Column, iters: Int, dims: Int): DataFrame = {
    GraftFunctions.register(embs.sparkSession) // cellDistArr → graft_cell_dists
    val (quant, _, cents) = trainKmeans(embs, idCol, vecCol, centroidPred, iters, dims)
    assignCells(quant, cents)
      .select(col("id").as("vec_id"), col("cid"), col("dist"))
  }

  /** Cluster-balanced (diversity-capped) sampling: train the
    * [[kmeansAssign]] cells, then keep at most `cap` vectors per cell —
    * the embedding-space diversity sampler of the SemDeDup/DeDuplicating-
    * for-diversity family (Abbas et al. arXiv:2303.09540 use the same
    * cells to PRUNE dups; this operator uses them to flatten the density
    * profile): a mixture dominated by one dense mode contributes at most
    * `cap` examples from it, same as from every sparse mode, so the
    * sample covers the space instead of replaying the corpus density.
    *
    * Determinism: the per-cell cap keeps the `cap` LOWEST vector ids
    * (stable under any partitioning; swap a content-hash order for
    * production unbiasedness — id order is the engine-replayable choice
    * the oracle can verify bit-for-bit).
    *
    * Output: (vec_id, cid, rn, cell_n) for kept vectors — rn the 1-based
    * rank within the cell, cell_n the PRE-cap cell population (so the
    * consumer can read the achieved flattening ratio per cell).
    *
    * Scale shape: training is [[kmeansAssign]]'s (per-iteration argmin
    * over K literal centroids + one map-side-combined K-row aggregate);
    * the cap is a rank-limited window on the cell key — Spark's
    * WindowGroupLimit pushes the `rn <= cap` bound below the exchange,
    * so each map task forwards at most `cap` rows per cell and a
    * corpus-sized dense cell never concentrates in one window task; the
    * K-row size table joins back as a broadcast. */
  def clusterBalancedSample(embs: DataFrame, idCol: String, vecCol: String,
                            centroidPred: Column, iters: Int, dims: Int,
                            cap: Int): DataFrame =
    clusterBalancedSampleFrom(
      kmeansAssign(embs, idCol, vecCol, centroidPred, iters, dims), cap)

  /** The cap stage alone, over an existing (vec_id, cid, …) assignment —
    * the deployment shape: train/assign ONCE, then this (and any other
    * cell consumer) reuses it without retraining. */
  def clusterBalancedSampleFrom(assigned: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    import org.apache.spark.sql.expressions.Window
    val sizes = assigned.groupBy("cid").agg(count(lit(1)).as("cell_n"))
    val byCell = Window.partitionBy("cid").orderBy("vec_id")
    assigned
      .select(col("vec_id"), col("cid"),
        row_number().over(byCell).as("rn"))
      .filter(col("rn") <= cap)
      .join(broadcast(sizes), "cid")
      .select(col("vec_id"), col("cid"),
        col("rn").cast("long").as("rn"), col("cell_n"))
  }

  /** The flattened k-major centroid-matrix literal of a trained model —
    * the layout [[graft.plans.CellDists]] consumes. */
  private def centsFlatLit(cents: Seq[(Long, Array[Long])]): Column =
    array(cents.flatMap(_._2).map(lit(_)): _*)

  /** All K integer squared-L2 distances of `v` at once — the native
    * [[graft.plans.CellDists]] loop. Bit-for-bit the per-centroid
    * aggregate-zip_with column this replaced; that formulation was K
    * interpreted higher-order calls per row (the same
    * out-of-codegen failure measured on the LSH bucket pass — see
    * [[graft.plans.LshBuckets]]), paid per corpus row per Lloyd scan by
    * every trained-quantizer consumer. */
  private def cellDistsCol(v: Column, cents: Seq[(Long, Array[Long])]): Column =
    call_function(GraftFunctions.CellDistsName, v, centsFlatLit(cents),
      lit(cents.head._2.length))

  /** Per-row struct array of (integer squared-L2 distance, cid) to every
    * trained centroid — `array_min` of it is the argmin cell (ties to the
    * lowest cid via struct ordering); exploding it yields the probe
    * candidates. Centroids enter the plan as literals: no join, no shuffle
    * keyed on cell ids; the distances come from ONE native loop and only
    * the K-element struct zip stays a (tiny) higher-order expression. */
  private def cellDistArr(cents: Seq[(Long, Array[Long])], v: Column): Column =
    zip_with(cellDistsCol(v, cents),
      array(cents.map(c => lit(c._1)): _*),
      (d, c) => struct(d.as("dist"), c.as("cid")))

  /** Fully codegen'd argmin-with-lookup — THE tie-rule carrier for every
    * per-corpus-row assignment ([[assignCells]], [[lloyd]]'s update,
    * [[pqCodesCol]]): `ds` must be the native [[cellDistsCol]] distances
    * over a centroid list SORTED by cid, and `lookup` a literal array
    * aligned to that order; `array_position(ds, array_min(ds))` is the
    * FIRST occurrence of the min, which under cid-ascending order IS the
    * lowest-cid tie rule — bit-for-bit the former interpreted
    * zip_with-struct array_min for every seed order (farthest-first
    * passes selection-ordered seeds; the callers sort). ArrayPosition /
    * ArrayMin / ElementAt all codegen, and whole-stage subexpression
    * elimination evaluates `ds` once. */
  private def argminLookup(ds: Column, lookup: Column): Column =
    element_at(lookup, array_position(ds, array_min(ds)).cast("int"))

  /** Nearest trained cell per quantized vector: (id, v, fv, cid, dist) —
    * one native distance loop + the codegen'd [[argminLookup]] (this
    * removed the last interpreted per-corpus-row expression from the
    * assignment path: the zip_with struct build ran interpreted per row,
    * the LshBuckets failure mode, K struct allocations per vector). */
  private def assignCells(quant: DataFrame,
                          cents: Seq[(Long, Array[Long])]): DataFrame = {
    val sorted = cents.sortBy(_._1)
    val cids = array(sorted.map(c => lit(c._1)): _*)
    val ds = cellDistsCol(col("v"), sorted)
    quant.select(col("id"), col("v"), col("fv"),
      argminLookup(ds, cids).as("cid"),
      array_min(ds).as("dist"))
  }

  /** The (id, quantized vector) rows selected by `centroidPred`, collected
    * sorted by id — model-sized driver state (seeds are hyperparameters). */
  private def collectSeeds(quant: DataFrame, embs: DataFrame, idCol: String,
                           centroidPred: Column): Seq[(Long, Array[Long])] = {
    val seeds: Seq[(Long, Array[Long])] = quant
      .join(embs.filter(centroidPred).select(col(idCol).as("id")), Seq("id"), "left_semi")
      .select(col("id"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1).toSeq
    require(seeds.nonEmpty, "centroidPred selected no vectors")
    seeds
  }

  /** Salt of the deterministic training-sample draw — shared with the SQL
    * oracle, which replays the identical salted-md5 base-31 fold. */
  private[graft] val SampleSalt = "ivfs:"

  /** Deterministic 1-in-`sampleMod` training-sample membership over the
    * id column: the [[graft.operators.CorpusOps.hashDrawCol]] salted-md5
    * draw mod `sampleMod` — a pure function of (salt, id), so the sample
    * is identical under any partitioning and any engine (the SQL oracle
    * replays it). */
  private def trainSampleFilter(sampleMod: Int): Column =
    pmod(graft.operators.CorpusOps.hashDrawCol(
      col("id").cast("string"), SampleSalt), lit(sampleMod.toLong)) === 0L

  /** The Lloyd loop of [[kmeansAssign]]: returns the persisted quantized
    * corpus (id, v = int8-quantized longs, fv = original doubles — riding
    * along so search paths never re-join the corpus for re-ranking), the
    * collected seed rows, and the trained centroids.
    *
    * `sampleMod` > 1 trains on the deterministic 1-in-`sampleMod` hash
    * sample of the quantized corpus instead of every row — the standard
    * sampled-Lloyd recipe (FAISS trains IVF coarse quantizers on a bounded
    * sample for exactly this reason): centroid quality needs a density
    * sketch, not the census, so per-iteration scan cost drops `sampleMod`×
    * while the FULL corpus is still assigned exactly once downstream. The
    * sample is persisted for the `iters` scans and registered with
    * [[graft.core.Caches]]. An empty sample degrades to the seeds as the
    * trained centroids (every Lloyd update keeps its previous centroid) —
    * deterministic, and replayed identically by the oracle. */
  private def trainKmeans(embs: DataFrame, idCol: String, vecCol: String,
                          centroidPred: Column, iters: Int, dims: Int,
                          sampleMod: Int = 1)
      : (DataFrame, Seq[(Long, Array[Long])], Seq[(Long, Array[Long])]) = {
    require(sampleMod >= 1, s"sampleMod must be >= 1: $sampleMod")
    val quant = graft.core.Caches.persistTracked(
      quantized(embs, idCol, vecCol)
        .select(col("id"), col("fv"),
          col("q").cast("array<long>").as("v")))
    val seeds = collectSeeds(quant, embs, idCol, centroidPred)
    val trainQ =
      if (sampleMod == 1) quant
      else graft.core.Caches.persistTracked(
        quant.select(col("id"), col("v")).filter(trainSampleFilter(sampleMod)))
    (quant, seeds, lloyd(trainQ, seeds, iters, dims))
  }

  /** The Lloyd iteration itself, from explicit seed centroids: per round,
    * one corpus scan assigns cells (argmin over K literal centroids) and
    * one map-side-combined aggregation reduces (count, per-dim integer
    * sums) to K driver rows; empty cells keep their previous centroid. */
  private def lloyd(quant: DataFrame, seeds: Seq[(Long, Array[Long])],
                    iters: Int, dims: Int): Seq[(Long, Array[Long])] = {
    var cents = seeds
    for (_ <- 1 to iters) {
      // Only (v, cid) feed the update — projected explicitly (not via
      // [[assignCells]], whose fv ride-along would force the float vectors
      // into the training input; the sampled-training path persists a
      // sample WITHOUT them).
      // Codegen'd cid-sorted [[argminLookup]] — per training row per
      // round. The UPDATE below still maps over `cents` in input order,
      // so the returned centroid Seq keeps the caller's order
      // (pqCodesCol indexes books by position).
      val sorted = cents.sortBy(_._1)
      val cidsLit = array(sorted.map(c => lit(c._1)): _*)
      val sums = quant
        .select(col("v"),
          argminLookup(cellDistsCol(col("v"), sorted), cidsLit).as("cid"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"),
          (0 until dims).map(i => sum(element_at(col("v"), i + 1)).as(s"s$i")): _*)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), Array.tabulate(dims)(i => r.getLong(2 + i)))))
        .toMap
      cents = cents.map { case (cid, cv) =>
        sums.get(cid) match {
          case Some((n, s)) => (cid, Array.tabulate(dims)(i => roundDiv(s(i), n)))
          case None         => (cid, cv)
        }
      }
    }
    cents
  }

  /** Trained IVF coarse-quantizer artifacts, shared across consumers — the
    * deployment shape: a pipeline trains the quantizer ONCE and every
    * search / recall / semantic-dedup consumer reuses it, instead of each
    * gate re-running the Lloyd loop (gate independence makes the driver
    * queries re-train by design; a deployment never does).
    *
    * `quant` is the persisted quantized corpus (id, v = int8 longs,
    * fv = original doubles); `seedRows`/`cents` are model-sized driver
    * state (plan literals downstream). [[cells]] — the persisted
    * (id, v, fv, cid, dist) assignment, i.e. the INDEX — materializes
    * lazily on first consumer. Release everything via
    * [[graft.core.Caches.releaseAll]] after the consumers finish, like
    * every other pipeline intermediate. */
  final case class IvfModel(quant: DataFrame,
                            seedRows: Seq[(Long, Array[Long])],
                            cents: Seq[(Long, Array[Long])],
                            dims: Int) {
    lazy val cells: DataFrame =
      graft.core.Caches.persistTracked(assignCells(quant, cents))
  }

  /** Train an [[IvfModel]] — [[kmeansAssign]]'s training run, returned as
    * a reusable artifact instead of a one-shot assignment: the
    * `sampleMod = 1` case of [[ivfModelSampled]]. */
  def ivfModel(embs: DataFrame, idCol: String, vecCol: String,
               centroidPred: Column, iters: Int, dims: Int): IvfModel =
    ivfModelSampled(embs, idCol, vecCol, centroidPred, iters, dims,
      sampleMod = 1)

  /** [[ivfModel]] with SAMPLED Lloyd training (`sampleMod = 1` trains on
    * every row): centroids train on the
    * deterministic 1-in-`sampleMod` hash sample of the quantized corpus
    * (salted-md5 draw over the id — replayed bit-for-bit by the SQL
    * oracle), then the FULL corpus is assigned exactly once by the
    * consumers, as always. This is the FAISS-style index-build recipe for
    * corpora where full-scan Lloyd dominates the build (each iteration
    * costs one corpus scan × K cell distances): training needs a density
    * sketch, not the census, so pick `sampleMod ≈ n / 1M` to bound the
    * per-iteration scan at ~1M rows — measured at 10M clustered vectors,
    * the build drops ~3× at UNCHANGED recall (SCALE_ANN_r14 `ivfks` leg).
    * The trained centroids differ from the full-scan model's in general
    * (different integer means), so the two models are distinct artifacts —
    * pick one per deployment; both are deterministic and oracle-exact. */
  def ivfModelSampled(embs: DataFrame, idCol: String, vecCol: String,
                      centroidPred: Column, iters: Int, dims: Int,
                      sampleMod: Int): IvfModel = {
    GraftFunctions.register(embs.sparkSession)
    val (quant, seeds, cents) =
      trainKmeans(embs, idCol, vecCol, centroidPred, iters, dims, sampleMod)
    IvfModel(quant, seeds, cents, dims)
  }

  /** [[knnIvfKmeans]]'s probe + exact-re-rank stage over an existing
    * model and cell assignment — shared by the gate path (fresh
    * assignment) and the deployment path (the model's persisted index). */
  private def ivfSearch(m: IvfModel, cells: DataFrame, embs: DataFrame,
                        idCol: String, queryPred: Column, k: Int,
                        probes: Int): DataFrame = {
    val probed = m.quant
      .join(embs.filter(queryPred).select(col(idCol).as("id")), Seq("id"), "left_semi")
      .select(col("id").as("qid"), col("fv").as("qv"),
        explode(cellDistArr(m.cents, col("v"))).as("dc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("dc.dist"), col("dc.cid"))))
      .filter(col("rn") <= probes)
      .select(col("qid"), col("qv"), col("dc.cid").as("cid"))
    broadcast(probed).join(cells, "cid")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk").cast("long").as("rnk"))
  }

  /** [[knnIvfKmeans]] against a pre-trained [[IvfModel]] — search reuses
    * the persisted cell assignment; no training job runs. */
  def knnIvfKmeansFrom(m: IvfModel, embs: DataFrame, idCol: String,
                       queryPred: Column, k: Int, probes: Int): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    ivfSearch(m, m.cells.select(col("id").as("nid"), col("fv").as("nv"),
      col("cid")), embs, idCol, queryPred, k, probes)
  }

  /** k-means with FARTHEST-FIRST (maximin) seeding — index construction
    * with no privileged seed rows (the deterministic stand-in for
    * k-means++: the classic 2-approximation of Gonzalez '85, and exactly
    * k-means++ with the D² randomness replaced by the argmax, so every
    * engine replays it): seed 1 is the minimum id; each further seed is
    * the vector maximizing its distance to the nearest chosen seed
    * (integer squared L2 over the int8-quantized space, ties to the lowest
    * id). Lloyd then runs as in [[kmeansAssign]]. Output: (vec_id, cid,
    * dist), cid = seeding vector's id.
    *
    * Scale shape: seeding is k−1 corpus scans, each an argmax over K
    * literal centroid expressions reduced by `limit(1)` (map-side top-1 —
    * one row reaches the driver per scan); training as [[kmeansAssign]].
    * K scans is the standard farthest-first cost; sample-first if K grows
    * past the scan budget.
    */
  def kmeansFarthestFirst(embs: DataFrame, idCol: String, vecCol: String,
                          k: Int, iters: Int, dims: Int): DataFrame =
    farthestFirstImpl(embs, idCol, vecCol, k, iters, dims, sampleMod = 1)

  /** [[kmeansFarthestFirst]] with SAMPLED seeding + training: the k − 1
    * seeding scans AND the Lloyd iterations run over the deterministic
    * 1-in-`sampleMod` hash sample ([[ivfModelSampled]]'s draw), then the
    * FULL corpus is assigned once — the scan-budget fix the farthest-first
    * scaladoc prescribes ("sample-first if K grows past the scan budget"):
    * seeding cost drops from (k−1) corpus scans to (k−1) sample scans.
    * Maximin seeds are 2-approximate on the SAMPLE (Gonzalez '85) — the
    * right coverage/cost trade when k × corpus scans don't fit; the
    * whole run (draw, seeding argmaxes, Lloyd, assignment) replays in the
    * SQL oracle bit-for-bit. Output: (vec_id, cid, dist) over the full
    * corpus, cid = seeding vector's id. */
  def kmeansFarthestFirstSampled(embs: DataFrame, idCol: String,
                                 vecCol: String, k: Int, iters: Int,
                                 dims: Int, sampleMod: Int): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1: $sampleMod")
    farthestFirstImpl(embs, idCol, vecCol, k, iters, dims, sampleMod)
  }

  /** The one farthest-first implementation behind both public names —
    * sampleMod = 1 IS the full-corpus operator (trainQ = quant), so the
    * two gates can never drift apart (the trainKmeans/ivfModel pattern). */
  private def farthestFirstImpl(embs: DataFrame, idCol: String,
                                vecCol: String, k: Int, iters: Int,
                                dims: Int, sampleMod: Int): DataFrame = {
    require(k >= 1, s"kmeansFarthestFirst needs k >= 1: k=$k")
    GraftFunctions.register(embs.sparkSession) // cellDistArr → graft_cell_dists
    val quant = graft.core.Caches.persistTracked(
      quantized(embs, idCol, vecCol)
        .select(col("id"), col("fv"),
          col("q").cast("array<long>").as("v")))
    val trainQ =
      if (sampleMod == 1) quant
      else graft.core.Caches.persistTracked(
        quant.select(col("id"), col("v")).filter(trainSampleFilter(sampleMod)))
    val first = trainQ.orderBy(col("id")).limit(1)
      .select(col("id"), col("v")).collect()
    require(first.nonEmpty,
      if (sampleMod == 1) "kmeansFarthestFirst: empty input"
      else "kmeansFarthestFirstSampled: the training sample is empty — lower sampleMod")
    var seeds = Seq(first(0).getLong(0) -> first(0).getSeq[Long](1).toArray)
    for (_ <- 2 to k) {
      val r = trainQ
        .select(col("id"), col("v"),
          // min DISTANCE only — no argmin, so the native loop's array_min
          // suffices (codegen'd; the former struct zip ran interpreted).
          array_min(cellDistsCol(col("v"), seeds)).as("md"))
        .orderBy(col("md").desc, col("id")).limit(1).collect()(0)
      // If every vector is distance 0 from a chosen seed, the argmax falls
      // back to the lowest id — an already-seeded vector. Silently carrying
      // a duplicate centroid would hand the caller k-1 clusters labeled as
      // k; fail loudly instead.
      require(!seeds.exists(_._1 == r.getLong(0)),
        s"kmeansFarthestFirst: k=$k exceeds the number of distinct " +
          s"quantized ${if (sampleMod == 1) "vectors" else "SAMPLE vectors"} " +
          s"(${seeds.size} found)")
      seeds = seeds :+ (r.getLong(0) -> r.getSeq[Long](1).toArray)
    }
    assignCells(quant, lloyd(trainQ, seeds, iters, dims))
      .select(col("id").as("vec_id"), col("cid"), col("dist"))
  }

  /** IVF search over a k-means-TRAINED coarse quantizer — the realistic ANN
    * pipeline, composed from [[kmeansAssign]]'s training loop and
    * [[knnIvf]]'s probe/re-rank shape: train centroids on the quantized
    * corpus, assign every vector to its argmin cell (integer L2, ties to
    * the lowest cell id), probe each query's `probes` nearest cells, then
    * exact-cosine re-rank candidates on the ORIGINAL float vectors.
    * Deterministic end-to-end: training, assignment, probing, and ranking
    * all replay in the SQL oracle bit-for-bit.
    *
    * Scale shape: as [[knnIvf]] — the trained model is driver-small and
    * enters the plan as literals, so assignment is a pure map over the
    * persisted quantized corpus (float vectors ride along — re-ranking
    * never re-joins the corpus), and the (queries × probes) probe list
    * broadcasts against the cell assignment. Query set small by contract.
    */
  def knnIvfKmeans(embs: DataFrame, idCol: String, vecCol: String,
                   queryPred: Column, k: Int, centroidPred: Column,
                   iters: Int, probes: Int, dims: Int): DataFrame =
    knnIvfKmeansSampled(embs, idCol, vecCol, queryPred, k, centroidPred,
      iters, probes, dims, sampleMod = 1)

  /** [[knnIvfKmeans]] with a SAMPLED-training coarse quantizer
    * ([[ivfModelSampled]]) — the one-shot gate path of the sampled build:
    * training scans only the 1-in-`sampleMod` hash sample, the full
    * corpus is assigned once, probe + exact re-rank unchanged. */
  def knnIvfKmeansSampled(embs: DataFrame, idCol: String, vecCol: String,
                          queryPred: Column, k: Int, centroidPred: Column,
                          iters: Int, probes: Int, dims: Int,
                          sampleMod: Int): DataFrame = {
    val m = ivfModelSampled(embs, idCol, vecCol, centroidPred, iters, dims,
      sampleMod)
    // Fresh (unpersisted) assignment: the gate path is one-shot, so
    // materializing the index buys nothing — [[knnIvfKmeansFrom]] is the
    // reuse path.
    ivfSearch(m, assignCells(m.quant, m.cents)
        .select(col("id").as("nid"), col("fv").as("nv"), col("cid")),
      embs, idCol, queryPred, k, probes)
  }

  /** PRODUCT-QUANTIZATION ANN (Jégou, Douze, Schmid — "Product quantization
    * for nearest neighbor search", TPAMI 2011): split each vector into `m`
    * subvectors, train an independent codebook per subspace (the same
    * deterministic integer Lloyd loop as [[kmeansAssign]], run on the int8-
    * quantized subspace), encode every corpus vector as its `m` nearest-
    * sub-centroid codes, and answer queries by ADC (asymmetric distance
    * computation): the query precomputes its integer L2 distance to every
    * sub-centroid once (an m × |book| table), and a candidate's approximate
    * distance is the SUM of m table lookups on its codes — no per-pair
    * vector math at all. Ranking is (adc asc, nid asc), top `k`.
    *
    * This is the memory-bound ANN scale path the float-vector operators
    * can't reach: after encoding, the corpus side of the search carries
    * only `m` small integers per vector (codes — here m × 1 byte at
    * |book| ≤ 256 vs dims × 4 bytes of floats, a ~64× compression at the
    * gate's 64-dim/4-subspace setup), so a billion-vector index fits where
    * raw vectors cannot. Search is ONE scan of the codes with the query's
    * distance tables broadcast (query set small by contract, as
    * [[knnBrute]]); training touches the corpus `iters + 1` times per
    * subspace with only |book| × dims integers ever reaching the driver.
    * Everything — quantization, per-subspace training, encoding, the ADC
    * sums — is integer arithmetic, so a SQL oracle replays the index
    * bit-for-bit. `iters = 0` keeps the seed subvectors as the codebook.
    *
    * Output: (qid, nid, adc = integer ADC distance, rnk ≤ k).
    */
  def knnPq(embs: DataFrame, idCol: String, vecCol: String,
            queryPred: Column, k: Int, centroidPred: Column,
            iters: Int, m: Int, dims: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(iters >= 0, s"iters must be >= 0: $iters")
    GraftFunctions.register(embs.sparkSession)
    val sub = dims / m
    val quant = graft.core.Caches.persistTracked(
      quantized(embs, idCol, vecCol)
        .select(col("id"), col("fv"),
          col("q").cast("array<long>").as("v")))
    val books = trainBooks(quant, collectSeeds(quant, embs, idCol, centroidPred),
      iters, m, sub)
    val coded = quant.select(col("id"), pqCodesCol(books, sub))
    val q = quant
      .join(embs.filter(queryPred).select(col(idCol).as("id")), Seq("id"), "left_semi")
      .select(col("id").as("qid"), pqTableCol(books, sub))
    coded.crossJoin(broadcast(q))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"), pqAdc(m).as("adc"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc"), col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("adc"),
        col("rnk").cast("long").as("rnk"))
  }

  /** Independent PQ codebook per subspace: [[lloyd]] over the subvector
    * slices, seeded by the SAME rows' slices (standard PQ training).
    * `sampleMod` > 1 trains every subspace's Lloyd on the deterministic
    * 1-in-`sampleMod` hash sample ([[trainSampleFilter]] — the same
    * oracle-replayable draw as [[ivfModelSampled]]'s coarse training),
    * drawn ONCE and persisted, so the m sub-trainings share one sample
    * scan instead of m full-corpus scans per iteration; encoding still
    * covers every corpus vector downstream. */
  private def trainBooks(quant: DataFrame, seedRows: Seq[(Long, Array[Long])],
                         iters: Int, m: Int, sub: Int,
                         sampleMod: Int = 1): IndexedSeq[Seq[(Long, Array[Long])]] = {
    require(sampleMod >= 1, s"sampleMod must be >= 1: $sampleMod")
    val trainQ =
      if (sampleMod == 1) quant
      else graft.core.Caches.persistTracked(
        quant.select(col("id"), col("v")).filter(trainSampleFilter(sampleMod)))
    (0 until m).map { s =>
      val seeds = seedRows.map { case (id, v) =>
        (id, v.slice(s * sub, (s + 1) * sub)) }
      lloyd(trainQ.select(col("id"),
        slice(col("v"), s * sub + 1, sub).as("v")), seeds, iters, sub)
    }
  }

  /** `codes` column: per subspace, the book POSITION j of the argmin
    * sub-centroid (ties to the lowest cid — the assignCells rule): the
    * codegen'd [[argminLookup]] over the cid-SORTED book, with the
    * lookup mapping sorted positions back to the book's ORIGINAL index j
    * (the former zip_with struct build ran interpreted per corpus row
    * per subspace — the encode pass of every PQ index build). */
  private def pqCodesCol(books: IndexedSeq[Seq[(Long, Array[Long])]],
                         sub: Int): Column =
    array(books.indices.map { s =>
      val ordered = books(s).zipWithIndex.sortBy(_._1._1)
      val jLit = array(ordered.map { case (_, j) => lit(j) }: _*)
      argminLookup(
        cellDistsCol(slice(col("v"), s * sub + 1, sub), ordered.map(_._1)),
        jLit)
    }: _*).as("codes")

  /** `qt` column: the query's ADC distance table — integer L2 to EVERY
    * sub-centroid, m × |book| longs computed once per query (one native
    * loop per subspace). */
  private def pqTableCol(books: IndexedSeq[Seq[(Long, Array[Long])]],
                         sub: Int): Column =
    array(books.indices.map(s =>
      cellDistsCol(slice(col("v"), s * sub + 1, sub), books(s))): _*).as("qt")

  /** ADC distance: the sum of the m table lookups `qt[s][codes[s]]`. */
  private def pqAdc(m: Int): Column =
    (0 until m).map(s =>
      element_at(element_at(col("qt"), s + 1),
        element_at(col("codes"), s + 1) + 1)).reduce(_ + _)

  /** IVF+PQ — the production ANN composition (the FAISS "IVFPQ" shape,
    * non-residual variant): the k-means coarse quantizer restricts each
    * query to its `probes` nearest cells' vectors, and within those
    * candidates ranking is pure ADC over the PQ codes — [[knnPq]]'s
    * distance-table lookups, no per-pair vector math — closing PQ's one
    * remaining scale note (its standalone search scans every code).
    * Training (coarse cells AND the `m` sub-codebooks), assignment,
    * probing, encoding, and the ADC sums are all integer — the SQL oracle
    * replays the entire index. Output: (qid, nid, adc, rnk ≤ k).
    *
    * Scale shape: both models are driver-small plan literals; the corpus is
    * scanned once for (cell, codes) per vector; search broadcasts the
    * (queries × probes) probe list with each query's ADC table riding
    * along, so the join touches only probed cells' rows and moves only
    * codes. */
  def knnIvfPq(embs: DataFrame, idCol: String, vecCol: String,
               queryPred: Column, k: Int, centroidPred: Column,
               coarseIters: Int, probes: Int, pqIters: Int, m: Int,
               dims: Int): DataFrame =
    knnIvfPqSampled(embs, idCol, vecCol, queryPred, k, centroidPred,
      coarseIters, probes, pqIters, m, dims, sampleMod = 1)

  /** [[knnIvfPq]] with the FULLY SAMPLED index build — coarse quantizer
    * AND all m sub-codebooks train on the same deterministic
    * 1-in-`sampleMod` hash sample ([[ivfModelSampled]] +
    * [[ivfPqModelSampled]]), full-corpus assignment and encoding, same
    * probe/ADC search. This is the build a 10⁸⁺-vector deployment runs:
    * training cost is bounded by the sample, not the corpus, while the
    * index still covers every vector. `sampleMod = 1` degenerates to
    * [[knnIvfPq]] exactly. */
  def knnIvfPqSampled(embs: DataFrame, idCol: String, vecCol: String,
                      queryPred: Column, k: Int, centroidPred: Column,
                      coarseIters: Int, probes: Int, pqIters: Int, m: Int,
                      dims: Int, sampleMod: Int): DataFrame = {
    // Validate the PQ hyperparameters BEFORE the coarse training runs —
    // ivfPqModelSampled re-checks, but only after the coarse model has
    // already paid the multi-job Lloyd loop (minutes at corpus scale for
    // an instant error).
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(pqIters >= 0, s"pqIters must be >= 0: $pqIters")
    val pm = ivfPqModelSampled(
      ivfModelSampled(embs, idCol, vecCol, centroidPred, coarseIters, dims,
        sampleMod),
      pqIters, m, sampleMod)
    // Fresh (unpersisted) encode for the one-shot gate path; the reuse
    // path is [[knnIvfPqFrom]] over the model's persisted codes.
    ivfPqSearch(pm,
      assignCells(pm.ivf.quant, pm.ivf.cents)
        .select(col("id"), col("cid"), pqCodesCol(pm.books, pm.sub)),
      embs, idCol, queryPred, k, probes)
  }

  /** Trained IVF+PQ artifacts shared across consumers — the coarse
    * [[IvfModel]] plus the `m` sub-codebooks; [[coded]] (the persisted
    * (id, cid, codes) index — the corpus compressed to m small integers
    * per vector) materializes lazily on first consumer. Same release
    * contract as [[IvfModel]]. */
  final case class IvfPqModel(ivf: IvfModel,
                              books: IndexedSeq[Seq[(Long, Array[Long])]],
                              m: Int, sub: Int) {
    lazy val coded: DataFrame = graft.core.Caches.persistTracked(
      assignCells(ivf.quant, ivf.cents)
        .select(col("id"), col("cid"), pqCodesCol(books, sub)))
  }

  /** Train the PQ codebooks on top of an existing coarse quantizer —
    * [[knnIvfPq]]'s book training, shared instead of re-run per query. */
  def ivfPqModel(ivf: IvfModel, pqIters: Int, m: Int): IvfPqModel =
    ivfPqModelSampled(ivf, pqIters, m, sampleMod = 1)

  /** [[ivfPqModel]] with SAMPLED book training: every subspace's Lloyd
    * scans only the 1-in-`sampleMod` hash sample (the
    * [[ivfModelSampled]] draw — salted-md5 over the id, so a SQL oracle
    * replays the sample bit-for-bit), while encoding still covers the
    * full corpus. `sampleMod = 1` IS [[ivfPqModel]], so the two paths
    * can never drift (the trainKmeans/ivfModel pattern). Pick
    * `sampleMod ≈ n / 1M` to bound per-iteration book-training cost; at
    * gate scale the books differ from the full-scan ones (different
    * training set), which is why the sampled gates carry their own
    * oracles instead of reusing the full-scan ones. */
  def ivfPqModelSampled(ivf: IvfModel, pqIters: Int, m: Int,
                        sampleMod: Int): IvfPqModel = {
    require(m >= 1 && ivf.dims % m == 0, s"m=$m must divide dims=${ivf.dims}")
    require(pqIters >= 0, s"pqIters must be >= 0: $pqIters")
    val sub = ivf.dims / m
    IvfPqModel(ivf,
      trainBooks(ivf.quant, ivf.seedRows, pqIters, m, sub, sampleMod), m, sub)
  }

  /** [[knnIvfPq]]'s probe + ADC-rank stage over an existing model and
    * coded index — shared by the gate and deployment paths. */
  private def ivfPqSearch(pm: IvfPqModel, coded: DataFrame, embs: DataFrame,
                          idCol: String, queryPred: Column, k: Int,
                          probes: Int): DataFrame = {
    val probed = pm.ivf.quant
      .join(embs.filter(queryPred).select(col(idCol).as("id")), Seq("id"), "left_semi")
      .select(col("id").as("qid"), pqTableCol(pm.books, pm.sub),
        explode(cellDistArr(pm.ivf.cents, col("v"))).as("dc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("dc.dist"), col("dc.cid"))))
      .filter(col("rn") <= probes)
      .select(col("qid"), col("qt"), col("dc.cid").as("cid"))
    broadcast(probed).join(coded, "cid")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"), pqAdc(pm.m).as("adc"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc"), col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("adc"),
        col("rnk").cast("long").as("rnk"))
  }

  /** [[knnIvfPq]] against a pre-trained [[IvfPqModel]] — search reuses the
    * persisted coded index; no training or encoding job runs. */
  def knnIvfPqFrom(pm: IvfPqModel, embs: DataFrame, idCol: String,
                   queryPred: Column, k: Int, probes: Int): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    ivfPqSearch(pm, pm.coded, embs, idCol, queryPred, k, probes)
  }

  /** IVF+PQ with RESIDUAL encoding — the full FAISS IVFPQ form (Jégou et
    * al., "Product Quantization for Nearest Neighbor Search", TPAMI 2011,
    * §IV.B): PQ codes quantize `v − centroid(cell(v))` instead of `v`, so
    * the codebooks spend their resolution on the within-cell displacement
    * (the part the coarse quantizer didn't explain) — the accuracy
    * refinement over [[knnIvfPq]]'s non-residual variant. The price is
    * that a query's ADC table depends on the probed CELL (its residual
    * differs per cell), so the broadcast probe list carries one table per
    * (query, probed cell) instead of one per query — still
    * queries × probes × m × |book| integers, model-scale.
    *
    * All residuals are differences of already-integer values (quantized
    * vectors, integer centroids), so training, encoding, probing, and the
    * ADC sums stay integer-exact and the SQL oracle replays the entire
    * index, residuals included. Output: (qid, nid, adc, rnk ≤ k).
    *
    * Scale shape identical to [[knnIvfPq]]: one corpus scan yields
    * (cell, codes); both models are plan literals; the cell-keyed join
    * moves only codes. */
  def knnIvfPqResidual(embs: DataFrame, idCol: String, vecCol: String,
                       queryPred: Column, k: Int, centroidPred: Column,
                       coarseIters: Int, probes: Int, pqIters: Int, m: Int,
                       dims: Int): DataFrame = {
    // Fail on bad PQ hyperparameters before the coarse training pays its
    // multi-job Lloyd loop (the knnIvfPq note).
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(pqIters >= 0, s"pqIters must be >= 0: $pqIters")
    val pm = ivfPqResidualModel(
      ivfModel(embs, idCol, vecCol, centroidPred, coarseIters, dims),
      pqIters, m)
    // Fresh (unpersisted) encode for the one-shot gate path; the reuse
    // path is [[knnIvfPqResidualFrom]] over the model's persisted codes.
    ivfPqResSearch(pm,
      pm.res.select(col("id"), col("cid"), pqCodesCol(pm.books, pm.sub)),
      embs, idCol, queryPred, k, probes)
  }

  /** The literal cell-id → centroid-vector map of a trained quantizer —
    * the residual paths' subtraction key. */
  private def centMapCol(cents: Seq[(Long, Array[Long])]): Column =
    map_from_arrays(
      array(cents.map(c => lit(c._1)): _*),
      array(cents.map(c => array(c._2.map(lit(_)): _*)): _*))

  /** Trained RESIDUAL IVF+PQ artifacts: the coarse [[IvfModel]], the
    * persisted residual corpus frame `res` (id, fv, cid, v = v − centroid),
    * and the residual-trained sub-codebooks; [[coded]] materializes
    * lazily. Same release contract as [[IvfModel]]. */
  final case class IvfPqResModel(ivf: IvfModel,
                                 books: IndexedSeq[Seq[(Long, Array[Long])]],
                                 m: Int, sub: Int, res: DataFrame) {
    lazy val coded: DataFrame = graft.core.Caches.persistTracked(
      res.select(col("id"), col("cid"), pqCodesCol(books, sub)))
  }

  /** Train residual PQ codebooks on top of an existing coarse quantizer —
    * [[knnIvfPqResidual]]'s book training, shared instead of re-run. */
  def ivfPqResidualModel(ivf: IvfModel, pqIters: Int, m: Int): IvfPqResModel =
    ivfPqResidualModelSampled(ivf, pqIters, m, sampleMod = 1)

  /** [[ivfPqResidualModel]] with SAMPLED residual book training — the
    * [[ivfPqModelSampled]] recipe applied to the residual frame: the m
    * sub-Lloyds scan only the 1-in-`sampleMod` hash sample of the
    * residuals (sampled on id — the same salted-md5 draw), the residual
    * ENCODE still covers every corpus vector. `sampleMod = 1` IS
    * [[ivfPqResidualModel]]. */
  def ivfPqResidualModelSampled(ivf: IvfModel, pqIters: Int, m: Int,
                                sampleMod: Int): IvfPqResModel = {
    require(m >= 1 && ivf.dims % m == 0, s"m=$m must divide dims=${ivf.dims}")
    require(pqIters >= 0, s"pqIters must be >= 0: $pqIters")
    val sub = ivf.dims / m
    val centMap = centMapCol(ivf.cents)
    // Residual corpus frame (persisted: book training + encoding consume it).
    val res = graft.core.Caches.persistTracked(
      assignCells(ivf.quant, ivf.cents)
        .select(col("id"), col("fv"), col("cid"),
          zip_with(col("v"), element_at(centMap, col("cid")),
            (a, b) => a - b).as("v")))
    // Seed residuals: the assignCells argmin-with-lowest-cid-tie rule,
    // replayed driver-side over the model-sized seed set.
    def nearestCv(v: Array[Long]): Array[Long] = ivf.cents.map { case (cid, cv) =>
      (v.zip(cv).map { case (a, b) => val d = a - b; d * d }.sum, cid, cv)
    }.minBy(t => (t._1, t._2))._3
    val seedRes = ivf.seedRows.map { case (id, v) =>
      (id, v.zip(nearestCv(v)).map { case (a, b) => a - b })
    }
    IvfPqResModel(ivf,
      trainBooks(res, seedRes, pqIters, m, sub, sampleMod), m, sub, res)
  }

  /** [[knnIvfPqResidual]]'s probe + per-cell-table ADC-rank stage over an
    * existing model and coded index. */
  private def ivfPqResSearch(pm: IvfPqResModel, coded: DataFrame,
                             embs: DataFrame, idCol: String,
                             queryPred: Column, k: Int,
                             probes: Int): DataFrame = {
    val centMap = centMapCol(pm.ivf.cents)
    // Probe list with the PER-CELL residual ADC table riding along.
    val probed = pm.ivf.quant
      .join(embs.filter(queryPred).select(col(idCol).as("id")), Seq("id"), "left_semi")
      .select(col("id").as("qid"), col("v"),
        explode(cellDistArr(pm.ivf.cents, col("v"))).as("dc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("dc.dist"), col("dc.cid"))))
      .filter(col("rn") <= probes)
      .select(col("qid"), col("dc.cid").as("cid"),
        zip_with(col("v"), element_at(centMap, col("dc.cid")),
          (a, b) => a - b).as("v"))
      .select(col("qid"), col("cid"), pqTableCol(pm.books, pm.sub))
    broadcast(probed).join(coded, "cid")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"), pqAdc(pm.m).as("adc"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc"), col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("adc"),
        col("rnk").cast("long").as("rnk"))
  }

  /** [[knnIvfPqResidual]] against a pre-trained [[IvfPqResModel]]. */
  def knnIvfPqResidualFrom(pm: IvfPqResModel, embs: DataFrame, idCol: String,
                           queryPred: Column, k: Int,
                           probes: Int): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    ivfPqResSearch(pm, pm.coded, embs, idCol, queryPred, k, probes)
  }

  /** RESIDUAL IVF+PQ with an EXACT REFINE stage — the FAISS
    * `IndexIVFPQ + IndexRefineFlat` composition: ADC ranks the probed
    * cells' codes to a top-`cand` candidate pool per query, and the pool
    * is re-ranked by full-precision cosine to the final top-`k`
    * ([[exactRerank]] — the [[knnSq8]] refine stage applied to the ADC
    * winner list). This is what makes the compressed index USABLE at
    * scale: m small sub-books over a clustered corpus quantize many true
    * neighbors to near-identical codes (ADC ties — measured recall@10 of
    * raw ADC at m=4/64 dims on 10 M clustered vectors is ~0/80), and the
    * refine recovers the ordering by touching full vectors for `cand`
    * rows per query only. Quantization/ADC stay integer-exact and the
    * refine follows [[knnBrute]]'s deterministic order, so a SQL oracle
    * replays index + refine bit-for-bit.
    *
    * Scale shape: unchanged index build (one corpus scan for codes, both
    * models plan-literal); search adds ONE broadcast-sized join chain —
    * the (queries × cand) winner list against the float corpus pruned to
    * candidate rows. Pick `cand` ≈ n/10³ on clustered corpora, LARGER
    * than [[knnSq8]]'s n/10⁴ guidance: the ADC pool cut is
    * `row_number` over (adc, nid), so inside an ADC tie group it slices
    * by id — and m-small-sub-book tie groups GROW with per-cell
    * occupancy (measured on the 64-dim clustered envelope: n/10⁴ pools
    * read 10/80 recall@10 at both 1M and 10M — SCALE_ANN_r16 — where
    * n/10³ reads 80/80, for single-digit seconds of refine —
    * SCALE_ANN_r16b). The winner list stays broadcast-sized
    * (queries × n/10³ rows).
    * Output: (qid, nid, rnk ≤ k). */
  def knnIvfPqResidualRerank(embs: DataFrame, idCol: String, vecCol: String,
                             queryPred: Column, k: Int, centroidPred: Column,
                             coarseIters: Int, probes: Int, pqIters: Int,
                             m: Int, dims: Int, cand: Int): DataFrame = {
    require(cand >= k, s"cand must be >= k: $cand vs $k")
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(pqIters >= 0, s"pqIters must be >= 0: $pqIters")
    val pm = ivfPqResidualModel(
      ivfModel(embs, idCol, vecCol, centroidPred, coarseIters, dims),
      pqIters, m)
    exactRerank(
      ivfPqResSearch(pm,
          pm.res.select(col("id"), col("cid"), pqCodesCol(pm.books, pm.sub)),
          embs, idCol, queryPred, cand, probes)
        .select(col("qid"), col("nid")),
      embs, idCol, vecCol, queryPred, k)
  }

  /** [[knnIvfPqResidualRerank]] against a pre-trained [[IvfPqResModel]] —
    * ADC over the persisted coded index, then the exact refine; no
    * training or encoding job runs. */
  def knnIvfPqResidualRerankFrom(pm: IvfPqResModel, embs: DataFrame,
                                 idCol: String, vecCol: String,
                                 queryPred: Column, k: Int, probes: Int,
                                 cand: Int): DataFrame = {
    require(cand >= k, s"cand must be >= k: $cand vs $k")
    GraftFunctions.register(embs.sparkSession)
    exactRerank(
      ivfPqResSearch(pm, pm.coded, embs, idCol, queryPred, cand, probes)
        .select(col("qid"), col("nid")),
      embs, idCol, vecCol, queryPred, k)
  }

  /** SemDeDup-style semantic dedup clusters (Abbas et al., "SemDeDup",
    * arXiv:2303.09540 — the curation step that collapses semantically
    * redundant documents a lexical dedup can't see): train a k-means coarse
    * quantizer over the int8-quantized embedding space ([[kmeansAssign]]'s
    * loop — deterministic, oracle-replayable), use the cells as BLOCKING
    * buckets — exact pairwise cosine runs WITHIN each cell only, never
    * across the corpus — and collapse the ≥ `minCos` pair graph into
    * connected components ([[graft.operators.DedupOps.nearDupClusters]]).
    * Output: (id, cluster = min reachable id); "keep one per semantic
    * cluster" is `filter(id === cluster)`.
    *
    * Scale shape: pick K ≈ corpus/target-cell-size so cells stay pairwise-
    * tractable — within-cell work is Σ C(|cell|, 2), the SemDeDup contract.
    * The trained centroids are plan literals (no shuffle keyed on cell
    * ids), the cell equi-join is the only pair source, norms are
    * precomputed per vector, and cells above `maxCell` rows are excluded by
    * the same guard as the LSH joins ([[DedupOps.dropHotBuckets]] — a
    * degenerate cell of co-identical embeddings would otherwise pay
    * C(m,2)). Component collapse touches the pair graph only.
    */
  def semDedupClusters(embs: DataFrame, idCol: String, vecCol: String,
                       centroidPred: Column, iters: Int, dims: Int,
                       minCos: Double,
                       maxCell: Int = DedupOps.DefaultMaxBucket): DataFrame = {
    val m = ivfModel(embs, idCol, vecCol, centroidPred, iters, dims)
    semDedupFromCells(
      assignCells(m.quant, m.cents).select(col("id"), col("fv"), col("cid")),
      embs, idCol, minCos, maxCell)
  }

  /** [[semDedupClusters]] against a pre-trained [[IvfModel]] — the
    * blocking cells come from the model's persisted assignment; no
    * training job runs. */
  def semDedupClustersFrom(m: IvfModel, embs: DataFrame, idCol: String,
                           minCos: Double,
                           maxCell: Int = DedupOps.DefaultMaxBucket): DataFrame =
    semDedupFromCells(m.cells.select(col("id"), col("fv"), col("cid")),
      embs, idCol, minCos, maxCell)

  /** The within-cell pair join + component collapse of
    * [[semDedupClusters]], over an existing (id, fv, cid) assignment. */
  private def semDedupFromCells(assigned: DataFrame, embs: DataFrame,
                                idCol: String, minCos: Double,
                                maxCell: Int): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    val cells = DedupOps.dropHotBuckets(assigned, Seq("cid"), maxCell)
    val side = cells.select(col("id"), col("cid"), col("fv"),
      sqrt(dot(col("fv"), col("fv"))).as("nrm"))
    val pairs = side.as("a").join(side.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .filter(dot(col("a.fv"), col("b.fv")) / (col("a.nrm") * col("b.nrm")) >= minCos)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    DedupOps.nearDupClusters(embs.select(col(idCol)), idCol, pairs)
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucketed candidate
    * generation (id_a < id_b over colliding (table, bucket) cells), then
    * exact cosine ≥ `minCos`. The detected set is the candidate subset —
    * recall is the banding's, tunable via tables × bits — which is also how
    * the oracle replays it (same hyperplane constants).
    *
    * (table, bucket) cells above `maxBucket` rows are excluded from
    * candidate generation ([[graft.operators.DedupOps.dropHotBuckets]]): m
    * co-identical embeddings share every cell and emit ~tables·C(m,2)
    * candidates — the quadratic edge; [[DedupOps.DefaultMaxBucket]]
    * documents the exact-dedup-first contract, `Int.MaxValue` disables. */
  def cosNearDups(embs: DataFrame, idCol: String, vecCol: String,
                  tables: Int, bits: Int, dims: Int, minCos: Double,
                  maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    val e = embs.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // Persisted (release via Caches.releaseAll): the bucket rows
    // feed the guard's count window and both candidate join sides. IDS-
    // ONLY, three longs per (row, table) — [[knnGraph]]'s cache-width
    // rationale; the norms side re-scans the corpus once instead.
    val bucketed = DedupOps.dropHotBuckets(
      graft.core.Caches.persistTracked(
        e.select(col("id"),
          posexplode(bucketsCol(col("v"), tables, bits, dims))
            .as(Seq("t", "bucket")))),
      Seq("t", "bucket"), maxBucket)
    // ids-only distinct before any vector math: the dedup shuffle carries
    // two longs per candidate, and the (native codegen'd graft_dot) dot
    // product runs once per DISTINCT pair. Norms are precomputed per
    // vector — same arithmetic as dividing by them per pair, at 1/3 the
    // dot-product work.
    val cand = bucketed.as("a").join(bucketed.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val side = e
      .select(col("id"), col("v"), sqrt(dot(col("v"), col("v"))).as("nrm"))
    cand
      .join(side.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(side.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= minCos)
      .select(col("id_a"), col("id_b"))
  }
}
