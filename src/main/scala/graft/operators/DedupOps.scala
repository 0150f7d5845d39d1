package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.core.Caches

/** Fuzzy-deduplication operators: MinHash+LSH near-duplicate pair detection
  * and SimHash document signatures.
  *
  * Scale shape (the whole point at 100 TB): candidate generation is a
  * hash-bucketed self-join on the folded band key — only documents that
  * collide in at least one band ever meet, never an all-pairs product. The
  * MinHash path builds no shingle table: band keys come from one native
  * pass per document
  * ([[graft.plans.MinhashBands]]), and each of the (few) candidate pairs
  * joins its two texts and checks true Jaccard with integer arithmetic
  * over their exact shingle-set overlap ([[graft.plans.ShingleOverlap]]).
  * The exact (PPJoin), containment and window operators work on shingle
  * rows. Everything is builtin or native codegen'd column expressions — no
  * UDFs; shuffles are bounded by signature size × corpus, not corpus².
  */
object DedupOps {

  // Cache lifecycle: the shingle-row operators (PPJoin, containment,
  // window coverage) persist linear-in-corpus intermediates (shingle
  // rows, span tables) because their plans consume them 2-3 times; they
  // register with the process-wide [[graft.core.Caches]] registry (see its
  // scaladoc for the sequential-use contract) and callers release them
  // AFTER consuming the result via [[graft.core.Caches.releaseAll]] or the
  // scoped [[graft.core.Caches.scoped]]. Intermediates consumed by SEVERAL
  // independent downstream shuffle stages persist eagerly
  // ([[graft.core.Caches.persistEagerTracked]]): AQE materializes those
  // stages concurrently, and a still-lazy cache is then computed once per
  // racing stage.

  /** Default hot-bucket cap for the LSH candidate self-joins ([[candidatePairs]],
    * [[simhashNearDups]], [[graft.operators.VectorOps.cosNearDups]]): a join
    * key shared by more than this many rows is excluded from candidate
    * generation. 10⁴ bounds the worst single bucket to ~5·10⁷ candidate rows
    * (vs ~5·10¹¹ for an uncapped 10⁶-doc cluster of mirrored boilerplate —
    * the one quadratic edge banding doesn't remove) while sitting orders of
    * magnitude above any honest near-dup cluster AFTER exact dedup — run
    * [[graft.operators.TextOps.dedupExact]] first (as the curation pipeline
    * does) and the cap is a no-op, because the co-identical documents that
    * populate degenerate buckets are already collapsed. Inspect what a cap
    * would drop with [[hotBuckets]] before lowering it.
    *
    * NOTE for the oracle gates: the DuckDB oracles replay UNCAPPED
    * candidate sets; the fixtures stay orders of magnitude below this cap
    * by construction (≤ 5000 rows total at bench scale), so the gates
    * compare the guard as a no-op. A fixture scale-up past the cap must
    * either replay the cap oracle-side or raise it. */
  val DefaultMaxBucket: Int = 10000

  /** The candidate-join keys shared by more than `maxBucket` rows, with
    * their row counts — the inspection surface for [[dropHotBuckets]]:
    * report these (they are near-duplicate MEGA-clusters, interesting in
    * their own right) rather than silently paying C(m,2) join work. */
  def hotBuckets(rows: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucket)

  /** Remove rows whose candidate-join key is shared by more than `maxBucket`
    * rows, via a count window over the join keys (see the inline comment
    * for why that beats a groupBy + anti-join here). Capped detection
    * trades recall ON THE DROPPED CLUSTERS ONLY for a linear bound; every
    * pair outside an over-cap bucket is unaffected. */
  private[operators] def dropHotBuckets(rows: DataFrame, keys: Seq[String],
                                        maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) rows
    else if (maxBucket < 1)
      throw new IllegalArgumentException(s"maxBucket must be >= 1: $maxBucket")
    else {
      // Window count over the join keys, NOT a groupBy + anti-join: the
      // candidate self-join shuffles by these exact keys anyway, so the
      // window's exchange is THE join's exchange (reused on both sides) —
      // the guard adds zero extra shuffles of the signature rows. The
      // window buffers one bucket per partition group: linear in the
      // bucket (spillable), which is exactly the degenerate m-row bucket
      // the guard exists to stop from exploding into C(m,2) join output.
      import org.apache.spark.sql.expressions.Window
      rows
        .withColumn("__bsz",
          count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
        .filter(col("__bsz") <= maxBucket)
        .drop("__bsz")
    }

  /** Word `n`-gram shingles of `text` (duplicates retained — `array_distinct`
    * is quadratic per row, so set semantics are established downstream by an
    * explode + distinct, which Spark turns into a map-side-combined hash
    * aggregation); empty array when the document has fewer than `n` tokens
    * (such docs pair with nothing). */
  def shingles(text: Column, n: Int): Column = {
    // The n-gram build runs in the native [[graft.plans.Shingles]] loop —
    // bit-for-bit the former transform(sequence(…), i -> concat_ws(" ",
    // slice(w, i, n))) column, whose per-position interpreted lambda was
    // ~85 % of the shingle pass every dedup operator starts with
    // (measured 1.6 s of an sf0.1 scan vs 0.16 s for the token explode).
    graft.plans.GraftFunctions.registerCurrent()
    val w = split(text, " ")
    when(size(w) >= n,
      call_function(graft.plans.GraftFunctions.ShinglesName, w, lit(n)))
      .otherwise(array().cast("array<string>"))
  }

  /** Raw (duplicate-retaining) shingle rows (id, s) — enough for the MinHash
    * signature path, whose per-band MIN is duplicate-invariant, so it skips
    * [[shingleRows]]' distinct (an exchange + aggregate). */
  def rawShingleRows(docs: DataFrame, idCol: String, n: Int): DataFrame =
    graft.plans.GraftFunctions.on(docs)
      .select(col(idCol).as("id"), explode(shingles(col("text"), n)).as("s"))

  /** Distinct shingle rows (id, s) — the set-semantics form the verification
    * and exact-Jaccard stages need. */
  def shingleRows(docs: DataFrame, idCol: String, n: Int): DataFrame =
    rawShingleRows(docs, idCol, n).distinct()

  /** The `b` folded MinHash band keys of `text` as `array<bigint>`, from one
    * native pass over its tokens ([[graft.plans.MinhashBands]]): the keys
    * [[bandedKeys]] folds from [[rawShingleRows]], bit for bit. Explode it
    * exactly once ([[textBandKeys]]) — read element-wise, projection
    * collapse could evaluate it once per reference. */
  def minhashBands(text: Column, n: Int, b: Int, r: Int): Column = {
    graft.plans.GraftFunctions.registerCurrent()
    call_function(graft.plans.GraftFunctions.MinhashBandsName,
      split(text, " "), lit(n), lit(b), lit(r))
  }

  /** Folded band-key rows (id, bk) straight from the text — the same rows
    * as `bandedKeys(rawShingleRows(docs, idCol, n), b, r)` with no shingle
    * row, no exchange and no aggregate. */
  def textBandKeys(docs: DataFrame, idCol: String, n: Int, b: Int,
                   r: Int): DataFrame =
    graft.plans.GraftFunctions.on(docs)
      .select(col(idCol).as("id"),
        explode(minhashBands(col("text"), n, b, r)).as("bk"))

  /** `struct<c_inter, sz_a, sz_b>`: the distinct word-`n`-gram shingle-set
    * sizes of two texts and of their intersection
    * ([[graft.plans.ShingleOverlap]]). */
  def shingleOverlap(textA: Column, textB: Column, n: Int): Column = {
    graft.plans.GraftFunctions.registerCurrent()
    call_function(graft.plans.GraftFunctions.ShingleOverlapName,
      split(textA, " "), split(textB, " "), lit(n))
  }

  /** Candidate pairs (id_a, id_b) whose shingle-set Jaccard is ≥ num/den
    * (integer cross-multiplication), verified straight from text: each
    * candidate joins its two texts — `textsA` (id, text) on id_a, `textsB`
    * on id_b — and [[shingleOverlap]] counts both sets and their
    * intersection, so |A∪B| = |A| + |B| − |A∩B|. Rows through the shuffles:
    * the candidates and the texts, never a corpus-wide shingle table.
    * Output: (id_a, id_b, c_inter, c_union). */
  private def verifiedPairs(cand: DataFrame, textsA: DataFrame,
                            textsB: DataFrame, n: Int, num: Int,
                            den: Int): DataFrame =
    cand
      .join(textsA.select(col("id").as("id_a"), col("text").as("ta")), "id_a")
      .join(textsB.select(col("id").as("id_b"), col("text").as("tb")), "id_b")
      // Through a generator, which the threshold filter cannot be pushed
      // below: a projected struct would be re-inlined into the join
      // condition once per field reference.
      .select(col("id_a"), col("id_b"),
        inline(array(shingleOverlap(col("ta"), col("tb"), n))))
      .select(col("id_a"), col("id_b"), col("c_inter"),
        (col("sz_a") + col("sz_b") - col("c_inter")).as("c_union"))
      .filter(col("c_inter") * den >= col("c_union") * num)

  /** SUB-DOCUMENT (window-level) exact dedup, Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" (arXiv:2107.06499) at
    * fixed-window granularity: a `k`-token window is DUPLICATED when its
    * exact text occurs ≥ 2 times anywhere in the corpus (other documents
    * OR elsewhere in the same document — self-repetition is duplication
    * in the paper's ExactSubstr sense), and each document reports how
    * much of it is covered by duplicated windows. This is the
    * sub-document complement of [[graft.operators.TextOps.dedupExact]] /
    * [[graft.operators.CorpusOps.spanStats]]: whole-doc dedup misses
    * boilerplate spliced into otherwise-unique pages, and per-SOURCE span
    * stats can't say WHICH documents to trim.
    *
    * Output, one row per input document:
    * (doc_id, n_tokens, n_windows, n_dup_windows, covered_tokens) where
    * `covered_tokens` is the exact size of the union of the duplicated
    * windows' [pos, pos+k) token intervals — the paper's "fraction of
    * text removed by ExactSubstr" numerator (coverage ratio =
    * covered_tokens / n_tokens, left to the consumer so every emitted
    * value stays integral). Documents shorter than `k` tokens report
    * zero windows and zero coverage.
    *
    * Scale shape (the reason no suffix array is needed at the gated
    * fixed-`k` granularity): positioned shingle rows are linear in total
    * tokens; the occurrence count groupBy shuffles them ONCE on the span
    * hash, and the dup-span semi-join partitions on that same hash so the
    * exchange is reused on the big side; the interval-union stage then
    * shuffles ONLY the duplicated instances by doc_id — a window `lead`
    * per doc computes the union of fixed-length intervals as
    * Σ min(next_pos − pos, k) in one pass (no per-position explode, no
    * k× fanout), and the following per-doc aggregate reuses the window's
    * partitioning (zero extra exchange). Driver state: none. */
  def duplicatedSpanCoverage(docs: DataFrame, idCol: String,
                             k: Int): DataFrame = {
    require(k >= 2 && k <= 1000, s"window width out of range: $k")
    import org.apache.spark.sql.expressions.Window
    // Positioned spans: pos = 0-based start token index. md5, not
    // xxhash64: the gate's oracle must replay every hash engine-neutrally
    // (the hash never reaches the OUTPUT, but keeping the whole family on
    // one recipe keeps the operators mutually auditable). Stored as the
    // 16 raw digest BYTES, not the 32-char hex string — the span table is
    // this operator's largest intermediate (17 rows per 24-token doc; the
    // 10M-doc envelope cell spills it), and the binary form cuts the
    // persisted row roughly a third with identical equality semantics.
    // Persisted — consumed twice (occurrence counts + the join back).
    val sp = Caches.persistEagerTracked(
      graft.plans.GraftFunctions.on(docs)
        .select(col(idCol).as("doc_id"),
          posexplode(shingles(col("text"), k)))
        .select(col("doc_id"), col("pos"), unhex(md5(col("col"))).as("sh")))
    val dupSh = sp.groupBy("sh").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("sh")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val cov = sp.join(dupSh, "sh")
      .select(col("doc_id"), col("pos"))
      .withColumn("nxt", lead(col("pos"), 1).over(byDoc))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_windows"),
        sum(when(col("nxt").isNotNull,
            least(lit(k.toLong), (col("nxt") - col("pos")).cast("long")))
          .otherwise(lit(k.toLong))).as("covered_tokens"))
    val nTok = size(split(col("text"), " "))
    docs.select(col(idCol).as("doc_id"),
        nTok.cast("long").as("n_tokens"),
        greatest(nTok - (k - 1), lit(0)).cast("long").as("n_windows"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
  }

  /** MAXIMAL duplicated runs — the variable-length readout built from the
    * fixed-`k` primitive of [[duplicatedSpanCoverage]]: consecutive
    * duplicated windows whose starts sit ≤ `k` apart merge into one
    * contiguous covered run (abutting counts as contiguous — their token
    * intervals touch), and each document reports its run count and its
    * longest run's token length — the per-doc shape of Lee et al.'s
    * duplicated-substring length distribution, without a suffix array.
    * Output (docs with no duplicated window are absent): (doc_id, n_runs,
    * max_run_tokens, covered_tokens) with covered_tokens = Σ run lengths
    * (equals [[duplicatedSpanCoverage]]'s union size by construction —
    * the cross-operator consistency a consumer can assert).
    *
    * Scale shape: identical to [[duplicatedSpanCoverage]] through the
    * dup semi-join; the run segmentation is two window passes over the
    * SAME doc_id partitioning (lag-break flags, then a running break
    * count as the island id) plus two aggregates that reuse it — one
    * exchange of the duplicated instances, total, same as the coverage
    * operator. */
  def duplicatedSpanRuns(docs: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 1000, s"window width out of range: $k")
    import org.apache.spark.sql.expressions.Window
    // Same binary-digest span table as [[duplicatedSpanCoverage]].
    val sp = Caches.persistEagerTracked(
      graft.plans.GraftFunctions.on(docs)
        .select(col(idCol).as("doc_id"),
          posexplode(shingles(col("text"), k)))
        .select(col("doc_id"), col("pos"), unhex(md5(col("col"))).as("sh")))
    val dupSh = sp.groupBy("sh").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("sh")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    sp.join(dupSh, "sh")
      .select(col("doc_id"), col("pos"))
      // A break opens a new island when the previous duplicated start is
      // more than k tokens back (strictly: gap > k leaves uncovered
      // tokens between the two windows' intervals).
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > k, 1L)
          .otherwise(lit(0L)))
      .withColumn("run", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "run")
      .agg((max(col("pos")) - min(col("pos")) + k).cast("long").as("run_len"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_runs"),
        max(col("run_len")).as("max_run_tokens"),
        sum(col("run_len")).as("covered_tokens"))
  }

  /** CROSS-DOCUMENT boilerplate coverage — the document-frequency
    * counterpart of [[duplicatedSpanCoverage]] (RefinedWeb/CCNet-style
    * template detection at fixed-window granularity): a `k`-token window
    * is BOILERPLATE when its exact text occurs in ≥ `minDocs` DISTINCT
    * documents. Two deliberate deltas from the ExactSubstr gate: the
    * count is per-document (a header pasted into 500 pages scores 500
    * here regardless of per-page repetition), and self-repetition alone
    * NEVER qualifies (a doc that stutters its own phrase is repetition —
    * [[duplicatedSpanCoverage]]'s business — not template text). With
    * `minDocs` = 2 on a corpus with no self-repeats the two span sets
    * coincide; the operator earns its keep at `minDocs` ≥ 3, where it
    * isolates the spans shared widely enough to be template rather than
    * a single near-dup pair.
    *
    * Output, one row per input document: (doc_id, n_tokens, n_windows,
    * n_bp_windows, bp_covered_tokens) — same interval-union arithmetic
    * as the coverage gate, over the boilerplate span set.
    *
    * Scale shape: identical to [[duplicatedSpanCoverage]] except the
    * frequency stage first collapses (doc_id, sh) duplicates. That
    * dedup is forced onto ONE exchange keyed by the span hash alone
    * (an explicit repartition: hash(sh) satisfies the (sh, doc_id)
    * clustering both aggregates need, so neither plans its own
    * shuffle) — the naive `distinct().groupBy(sh)` shape would
    * exchange the corpus-sized span table twice, once by (doc_id, sh)
    * and again by sh. The trade: the sh-keyed exchange carries raw
    * span rows without map-side pre-aggregation — free here, since
    * spans are near-unique and partial combine would collapse almost
    * nothing. Driver state: none. */
  def boilerplateCoverage(docs: DataFrame, idCol: String, k: Int,
                          minDocs: Int): DataFrame = {
    require(k >= 2 && k <= 1000, s"window width out of range: $k")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    import org.apache.spark.sql.expressions.Window
    // Same binary-digest span table as [[duplicatedSpanCoverage]].
    val sp = Caches.persistEagerTracked(
      graft.plans.GraftFunctions.on(docs)
        .select(col(idCol).as("doc_id"),
          posexplode(shingles(col("text"), k)))
        .select(col("doc_id"), col("pos"), unhex(md5(col("col"))).as("sh")))
    val bpSh = sp.select("sh", "doc_id").repartition(col("sh"))
      .distinct()
      .groupBy("sh").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= minDocs).select("sh")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val cov = sp.join(bpSh, "sh")
      .select(col("doc_id"), col("pos"))
      .withColumn("nxt", lead(col("pos"), 1).over(byDoc))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bp_windows"),
        sum(when(col("nxt").isNotNull,
            least(lit(k.toLong), (col("nxt") - col("pos")).cast("long")))
          .otherwise(lit(k.toLong))).as("bp_covered_tokens"))
    val nTok = size(split(col("text"), " "))
    docs.select(col(idCol).as("doc_id"),
        nTok.cast("long").as("n_tokens"),
        greatest(nTok - (k - 1), lit(0)).cast("long").as("n_windows"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_bp_windows"), lit(0L)).as("n_bp_windows"),
        coalesce(col("bp_covered_tokens"), lit(0L)).as("bp_covered_tokens"))
  }

  /** Exact shared-shingle counts for candidate pairs WITHOUT per-doc
    * arrays: expand each pair by its A-side shingle rows (one small side —
    * a candidate row — against the persisted postings), keep the rows
    * whose (id_b, s) also exists via a semi-join that reuses `sr`'s
    * (id, s) clustering, and count per pair. Rows through the shuffle:
    * Σ|A| per CANDIDATE, never the corpus — the previous shape
    * (collect_list arrays for every document) shuffled the whole shingle
    * table into array buffers even though most documents never reach
    * verification (and at 10M docs those buffers were the envelope's OOM).
    * Union/min sizes come from the longs-only per-doc size table
    * (|A∪B| = |A| + |B| − |A∩B|), so no array ever materializes.
    * Candidate pairs sharing NO shingle vanish from the count — harmless
    * by construction: every caller thresholds with num > 0, which a zero
    * intersection can never pass. Output: (id_a, id_b, c_inter). */
  private[graft] def pairIntersections(sr: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(sr.as("x"), col("id_a") === col("x.id"))
      .select(col("id_a"), col("id_b"), col("x.s").as("sx"))
      .join(sr.as("y"),
        col("id_b") === col("y.id") && col("sx") === col("y.s"), "left_semi")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c_inter"))

  /** The longs-only per-doc distinct-shingle size table (id, sz). */
  private[graft] def shingleSizes(sr: DataFrame): DataFrame =
    sr.groupBy("id").agg(count(lit(1)).as("sz"))

  /** One row per id carrying all `k` minhash values (m0..m{k-1}): `k`
    * independent permutations approximated by seeding `xxhash64` with the
    * hash index; value j is the minimum hash of any shingle under seed j
    * (MIN is invariant under duplicate shingles, so set semantics in the
    * input are optional).
    *
    * Shape note (the scale-critical choice): `k` `min(xxhash64(j, s))`
    * aggregate columns in ONE `groupBy(id)` — the shuffle carries the
    * shingle rows exactly once and the partial aggregation combines all k
    * minima map-side. The previous build exploded a k-struct array per
    * shingle row, a k× row fanout THROUGH the exchange (measured 29 s on
    * the sf0.1 gate, ~2× cut by this shape). An array-typed per-doc
    * signature expression read element-wise would be worse still:
    * projection collapse inlines it and recomputes the shingling once per
    * hash — which is why [[textBandKeys]] computes the keys natively and
    * consumes them through a single explode. */
  private def minhashAggRow(shingleRows: DataFrame, k: Int): DataFrame =
    shingleRows.groupBy(col("id"))
      .agg(min(xxhash64(lit(0), col("s"))).as("m0"),
        (1 until k).map(j => min(xxhash64(lit(j), col("s"))).as(s"m$j")): _*)

  /** Banded LSH keys: fold `b*r` minhash values into `b` bands of `r` hash
    * columns (h0..h{r-1}) each — the equi-join key of the candidate stage.
    * Hash j lands in band j/r, slot j%r; the band rows are exploded from
    * the one-row-per-id aggregate, so the whole build is ONE shuffle. */
  def bandedSignatures(shingleRows: DataFrame, b: Int, r: Int): DataFrame =
    minhashAggRow(shingleRows, b * r)
      .select(col("id"), explode(array((0 until b).map(g =>
        struct(lit(g).as("band") +:
          (0 until r).map(t => col(s"m${g * r + t}").as(s"h$t")): _*)): _*)).as("bs"))
      .select(col("id") +: (col("bs.band").as("band") +:
        (0 until r).map(t => col(s"bs.h$t").as(s"h$t"))): _*)

  /** Folded banded LSH keys (id, bk): each of the `b` bands' `r` minhash
    * slots collapses to ONE xxhash64 over (band, m_{g·r}, …, m_{g·r+r−1})
    * — the single-long equi-join key of the candidate stage, at well
    * under half the shuffle width of the long-form [[bandedSignatures]]
    * rows (one long vs band int + r longs, on BOTH sides of the
    * self-join and through the hot-bucket window). Distinct (band, h…)
    * tuples can collide in the fold — that only ADDS candidates, which
    * exact verification removes, so pair output is identical; equal
    * tuples always fold equal, so recall is exactly the banded recall.
    * (A fold collision also merges two buckets for the [[hotBuckets]]
    * cap's occupancy count, so under a cap two individually sub-cap
    * buckets whose COMBINED occupancy exceeds `maxBucket` are both
    * dropped — i.e. a collision can REMOVE both buckets' candidates,
    * not only add spurious ones; at 2⁻⁶⁴ per bucket pair, below any
    * operational concern either way.) */
  def bandedKeys(shingleRows: DataFrame, b: Int, r: Int): DataFrame =
    minhashAggRow(shingleRows, b * r)
      .select(col("id"), explode(array((0 until b).map(g =>
        xxhash64((lit(g) +: (0 until r).map(t =>
          col(s"m${g * r + t}"))): _*)): _*)).as("bk"))

  /** [[candidatePairs]] over folded band keys (id, bk) — the production
    * candidate stage ([[minhashNearDups]]/[[incrementalDedup]] run this
    * shape over [[textBandKeys]]); same hot-bucket cap semantics on the
    * folded key. */
  def candidatePairsKeyed(sig: DataFrame,
                          maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val g = dropHotBuckets(sig, Seq("bk"), maxBucket)
    g.as("a").join(g.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Candidate near-duplicate pairs via banded LSH: a pair is a candidate
    * iff some band agrees on ALL r values. A pair of true Jaccard s is a
    * candidate with probability 1-(1-s^r)^b — the r rows suppress the
    * false-positive flood a shared-vocabulary corpus produces under one-row
    * bands (false positives scale with b·s^r), while near-identical pairs
    * (s ≥ 0.85 in this corpus) are missed with probability (1-s^r)^b ≈ 1e-5
    * at b=12, r=3. The join is an equi-join on the banded key — work is
    * bounded by bucket collisions, never the corpus cross-product — and
    * buckets larger than `maxBucket` rows are excluded first
    * ([[dropHotBuckets]]): m co-identical signatures share ALL b band keys
    * and would emit ~b·C(m,2) candidate rows, the one quadratic edge banding
    * leaves open. [[DefaultMaxBucket]] documents why exact-dedup-first makes
    * the cap a no-op; `Int.MaxValue` disables it. */
  def candidatePairs(sig: DataFrame, r: Int,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val keys = Seq("band") ++ (0 until r).map(t => s"h$t")
    val g = dropHotBuckets(sig, keys, maxBucket)
    val cond = keys.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
      col("a.id") < col("b.id")
    g.as("a").join(g.as("b"), cond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** [[candidatePairs]] from raw documents: [[candidatePairsKeyed]] over
    * [[textBandKeys]] (no caching, no shingle rows). */
  def minhashCandidates(docs: DataFrame, idCol: String, n: Int,
                        b: Int, r: Int,
                        maxBucket: Int = DefaultMaxBucket): DataFrame =
    candidatePairsKeyed(textBandKeys(docs, idCol, n, b, r), maxBucket)

  /** Verified near-duplicate pairs: LSH candidates whose true shingle-set
    * Jaccard is ≥ num/den (integer cross-multiplication — no float compare).
    * Output: (id_a, id_b, c_inter, c_union).
    *
    * One pipeline, nothing persisted: the band keys explode from one native
    * pass over each document's tokens ([[textBandKeys]]), the candidate
    * stage is [[candidatePairsKeyed]] (hot-bucket cap, band-key self-join,
    * distinct), and each candidate joins its two texts for the exact
    * overlap ([[verifiedPairs]]). The text is read three times — once for
    * the keys, once per pair side — and no shingle table, signature
    * table or size table is ever built, so there is nothing to release.
    * (Size-ratio pruning has nothing to skip here: the per-pair overlap
    * reads both shingle sets either way.)
    */
  def minhashNearDups(docs: DataFrame, idCol: String, n: Int, b: Int, r: Int,
                      num: Int, den: Int,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"Jaccard threshold must be in (0, 1]: $num/$den")
    val texts = docs.select(col(idCol).as("id"), col("text"))
    verifiedPairs(
      candidatePairsKeyed(textBandKeys(docs, idCol, n, b, r), maxBucket),
      texts, texts, n, num, den)
  }

  /** Exact n-gram-Jaccard near-duplicate pairs — no LSH, no probability —
    * via prefix filtering (the PPJoin-family principle; Chaudhuri et al.
    * SSJoin / Xiao et al. PPJoin):
    *
    *   - J(a,b) ≥ t = num/den implies |a∩b| ≥ ⌈t·|a|⌉ (since |a∪b| ≥ |a|);
    *   - two sets sharing ≥ α elements must collide within their first
    *     |x|−α+1 elements under ANY shared total order of the element
    *     universe.
    *
    * So each doc's shingles are ranked by global document frequency
    * ascending (ties broken by the shingle string — a total order), and the
    * candidate self-join runs on each doc's first |x|−⌈t·|x|⌉+1 RAREST
    * shingles only. This is exact — every J ≥ t pair is a candidate — and
    * kills the hot-shingle scale hazard: a stop-shingle ("of the") has
    * near-maximal frequency and sorts to the back of every doc, so it only
    * enters a prefix when a document has almost nothing rarer (i.e. is
    * boilerplate whose near-dups are real) — the skewed join key that would
    * fan out quadratically on a heavy-tailed corpus all but vanishes.
    * Candidates are then verified against the full shingle sets (exact
    * integer intersection counts).
    *
    * The distinct shingle rows are persisted (MEMORY_AND_DISK): they feed
    * the frequency pass, the prefix build, and both verification joins —
    * four consumers of one linear-in-corpus build. Release after consuming
    * the result — [[Caches.releaseAll]] / [[Caches.scoped]].
    */
  def jaccardNearDups(docs: DataFrame, idCol: String, n: Int,
                      num: Int, den: Int): DataFrame =
    jaccardNearDupsFromShingles(
      Caches.persistEagerTracked(shingleRows(docs, idCol, n)), num, den)

  /** [[jaccardNearDups]] from an already-built (and persisted) distinct
    * shingle table — the stage split that lets a shared-model pipeline
    * shingle the corpus ONCE for the pair detection, the estimator
    * signatures, and any other shingle consumer ([[fuzzyPairModel]]). */
  def jaccardNearDupsFromShingles(sr: DataFrame,
                                  num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"Jaccard threshold must be in (0, 1]: $num/$den")
    import org.apache.spark.sql.expressions.Window
    // Global shingle document frequency via groupBy + join-back, NOT a
    // window over partitionBy(s): a hot shingle would concentrate its whole
    // (possibly corpus-sized) partition in ONE window task — the exact
    // straggler this operator exists to avoid. The aggregate partial-combines
    // map-side, and the join back fans out 1:1 (one dfreq row per shingle)
    // with AQE's skew-join splitting available for the hot keys. The per-doc
    // windows are bounded by document length — safe.
    val dfreq = sr.groupBy("s").agg(count(lit(1)).as("df"))
    val byDoc   = Window.partitionBy("id")
    val ordered = Window.partitionBy("id").orderBy(col("df"), col("s"))
    // prefixLen = |x| − ⌈t·|x|⌉ + 1 = ⌊|x|·(den−num)/den⌋ + 1 (integer
    // identity; the double division is exact at per-doc set sizes).
    // Persisted: the candidate self-join would otherwise recompute the whole
    // frequency+rank pipeline on BOTH sides. rnk/sz ride into the cache for
    // the positional filter below.
    val prefix = Caches.persistEagerTracked(
      sr.join(dfreq, "s")
        .select(col("id"), col("s"),
          row_number().over(ordered).as("rnk"),
          count(lit(1)).over(byDoc).as("sz"))
        .filter(col("rnk") <= floor(col("sz") * (den - num) / den) + 1))
    // PPJoin positional filter (Xiao et al., WWW'08): for the FIRST shared
    // shingle in the global (df, s) order, elements before it on each side
    // are disjoint from the other set, so overlap ≤ 1 + min(sz_a − rnk_a,
    // sz_b − rnk_b); J ≥ num/den needs overlap·(num+den) ≥ num·(sz_a+sz_b),
    // and the first-common-element row always satisfies both the prefix
    // bound and this one — every true pair survives, deep-rank matches die
    // before the distinct.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          (lit(1) + least(col("a.sz") - col("a.rnk"),
            col("b.sz") - col("b.rnk"))) * (num + den) >=
            (col("a.sz") + col("b.sz")) * num)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // Verification via [[pairIntersections]] — exact shared-shingle
    // counts per candidate, no per-doc arrays; union from the size table.
    val sz = shingleSizes(sr)
    pairIntersections(sr, cand)
      .join(sz.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sz.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("c_inter"),
        (col("sz_a") + col("sz_b") - col("c_inter")).as("c_union"))
      .filter(col("c_inter") * den >= col("c_union") * num)
  }

  /** ASYMMETRIC containment near-dups (Broder, "On the resemblance and
    * containment of documents", SEQUENCES '97): pairs whose shingle-set
    * CONTAINMENT |A∩B| / min(|A|,|B|) ≥ num/den — the relation Jaccard
    * resemblance structurally misses: a short document pasted verbatim
    * into a much longer one has containment ≈ 1 but Jaccard ≈ |A|/|B|,
    * below any useful resemblance threshold. This is the whole-set
    * complement of [[duplicatedSpanCoverage]] (which finds the pasted
    * SPANS but not which document pairs subsume each other).
    *
    * EXACT at the declared threshold, like [[jaccardNearDups]], but the
    * prefix-filter geometry differs: resemblance lets BOTH sides keep
    * only a rare-first prefix; for containment only the SMALLER set's
    * prefix argument holds (pigeonhole on s = min(|A|,|B|): if none of
    * its ⌊s·(den−num)/den⌋+1 rarest shingles is shared, the intersection
    * is < s·num/den), and the partner element may sit anywhere in the
    * other document. So candidates come from prefix ⋈ FULL shingle rows,
    * both orientations at once, collapsed to the unordered pair.
    * NEGATIVE RESULT (round 15, measured at 10 M, committed so it is not
    * re-tried): restricting the join to the one orientation the
    * pigeonhole licenses (prefix side = smaller document) and/or adding
    * the PPJoin positional filter both LOSE here — either form needs
    * the full side to carry its set size (and rank, for the filter),
    * which costs a corpus-wide exchange-or-window plus a wider cache,
    * while the candidate join's cost is dominated by the probe/shuffle
    * of the corpus-sized full side, not by its output rows (rare-first
    * prefixes keep the fanout near the true pair count): 10 M contain
    * cell 275 s (this shape) vs 327–344 s (both r15 variants) at
    * identical output. The positional filter DOES pay where ranks are
    * already on both sides for free — [[jaccardNearDupsFromShingles]]'s
    * prefix×prefix join keeps it.
    * POSITIVE RESULT (round 16, the probe-dominated diagnosis applied):
    * keying df/prefix/candidates on `xxhash64(s)` (one long) instead of
    * the n-word shingle string shrinks the BYTES of every corpus-wide
    * exchange in the candidate geometry without adding any plumbing —
    * interleaved same-JVM A/B at 10 M, identical n_contain=1,000,000
    * in all four reps: legacy 836.7/518.4 s vs hashed 613.6/387.8 s
    * (−25…−27 % at matched position). Kept as the default; exactness
    * argument in the inline comment below. GATE-SCALE parity (round 17,
    * `SCALE_DEDUP_r17ab.json`): at sf0.1 (5k docs) the hashed projection
    * is a noise-level fixed cost — 4-rep interleaved A/B composed with
    * the cluster collapse reads hashed 4.87/5.28 s vs legacy
    * 3.87/4.39 s (pair/composed mins, hashed always in the penalized
    * first slot) at identical counts; the r16 bench's 11.23 s
    * `dedup_containment_clusters` reading was box stall, not this
    * change (the composed gate is the pair stage plus a 256-edge
    * collapse — milliseconds — and re-read 4.96 s min through the
    * bench protocol on the r17 box).
    * Cost bound: the candidate join fans out df(s) per prefix row —
    * prefixes are the globally RAREST shingles of each doc (same
    * df-ascending order as the PPJoin path), so that fanout is small by
    * construction; a production corpus with adversarial stop-shingle
    * prefixes (tiny docs made of corpus-hot shingles) caps them with
    * [[hotBuckets]]/[[dropHotBuckets]] like every other pairing path.
    *
    * Output: (id_a, id_b, c_inter, sz_a, sz_b) for pairs at containment
    * ≥ num/den (integer cross-multiply; consumers derive the ratio). */
  def containmentNearDups(docs: DataFrame, idCol: String, n: Int,
                          num: Int, den: Int): DataFrame =
    containmentNearDupsImpl(docs, idCol, n, num, den, hashedKeys = true)

  /** [[containmentNearDups]] with the candidate-key choice exposed for
    * the same-JVM A/B only: `hashedKeys = false` is the pre-r16 shape
    * whose df/prefix/candidate stages all key on the SHINGLE STRING. */
  private[graft] def containmentNearDupsImpl(docs: DataFrame, idCol: String,
                                             n: Int, num: Int, den: Int,
                                             hashedKeys: Boolean): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"containment threshold must be in (0, 1]: $num/$den")
    import org.apache.spark.sql.expressions.Window
    val sr = Caches.persistEagerTracked(shingleRows(docs, idCol, n))
    // r16: the df / prefix / candidate stages key on xxhash64(s) — ONE
    // long instead of the n-word shingle string, on both sides of every
    // corpus-wide exchange in the candidate geometry (the bandedKeys
    // fold applied here). Correct for the same reason: string equality
    // implies hash equality, so hashed-key candidates are a SUPERSET of
    // string-key candidates (no miss is possible) and the spurious
    // additions (2⁻⁶⁴ per shingle pair) are removed by the exact
    // pairIntersections verification, which keys on true strings. A
    // within-doc collision cannot shrink the prefix either: sr is
    // (id, s)-distinct, so colliding rows stay distinct rows — sz and
    // the prefix length count TRUE shingles; only the rare-first ORDER
    // (a performance heuristic, not a correctness input) can be
    // perturbed, at the same 2⁻⁶⁴.
    val srk =
      if (hashedKeys) sr.select(col("id"), xxhash64(col("s")).as("s"))
      else sr
    val dfreq = srk.groupBy("s").agg(count(lit(1)).as("df"))
    val byDoc   = Window.partitionBy("id")
    val ordered = Window.partitionBy("id").orderBy(col("df"), col("s"))
    val prefix =
      srk.join(dfreq, "s")
        .select(col("id"), col("s"),
          row_number().over(ordered).as("rnk"),
          count(lit(1)).over(byDoc).as("sz"))
        .filter(col("rnk") <= floor(col("sz") * (den - num) / den) + 1)
        .select("id", "s")
    val cand = prefix.as("a").join(srk.as("b"),
        col("a.s") === col("b.s") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    // Verification via [[pairIntersections]] — exact shared-shingle
    // counts per candidate, no per-doc arrays; sizes from the size table.
    val sz = shingleSizes(sr)
    pairIntersections(sr, cand)
      .join(sz.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sz.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("c_inter"),
        col("sz_a"), col("sz_b"))
      .filter(col("c_inter") * den >= least(col("sz_a"), col("sz_b")) * num)
  }

  /** Estimator-accuracy readout for a MinHash design point: for every
    * verified near-dup pair (exact shingle Jaccard ≥ num/den), the number
    * of AGREEING slots out of `k` independent minhash values next to the
    * exact intersection/union — the table that validates "matches/k ≈ J"
    * empirically and sizes a b×r banding choice against the corpus's real
    * similarity distribution (the theory's miss-rate curve assumes the
    * estimator is unbiased; this gate measures it).
    *
    * The hash family here is the ENGINE-NEUTRAL md5 fold of
    * [[CorpusOps.hashDrawCol]] (salt `mh<j>:`), not the production
    * `xxhash64` family of [[minhashNearDups]] — same estimator statistics,
    * but a SQL oracle can replay every slot bit-for-bit. Same
    * one-groupBy signature shape as [[minhashAggRow]] (k min-aggregates,
    * no k× row fanout through the shuffle); the pair set reuses
    * [[jaccardNearDups]], and the signature join moves one k-slot array
    * per candidate side. Output: (id_a, id_b, c_inter, c_union,
    * est_matches ∈ 0..k). */
  def minhashEstimates(docs: DataFrame, idCol: String, n: Int, k: Int,
                       num: Int, den: Int): DataFrame = {
    val sr = Caches.persistEagerTracked(shingleRows(docs, idCol, n))
    minhashEstimatesFrom(jaccardNearDupsFromShingles(sr, num, den),
      mdSignatures(sr, k))
  }

  /** The engine-neutral md5-fold signature table of [[minhashEstimates]]:
    * one (id, sig array<k>) row per doc, built from the shared distinct
    * shingle table with the one-groupBy k-min-aggregate shape. */
  def mdSignatures(sr: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 128, s"k out of range: $k")
    sr.groupBy("id")
      .agg(min(CorpusOps.hashDrawCol(col("s"), "mh0:")).as("g0"),
        (1 until k).map(j =>
          min(CorpusOps.hashDrawCol(col("s"), s"mh$j:")).as(s"g$j")): _*)
      .select(col("id"), array((0 until k).map(j => col(s"g$j")): _*).as("sig"))
  }

  /** [[minhashEstimates]]'s join stage over existing verified pairs and
    * signatures — the shared-model consumer: two model-table joins and one
    * zip_with, no shingling, banding, or verification re-run. */
  def minhashEstimatesFrom(pairs: DataFrame, sigs: DataFrame): DataFrame =
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("c_inter"), col("c_union"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), _ + _).as("est_matches"))

  /** Pair graphs of at most this many edges collapse on the driver
    * ([[nearDupClusters]]): 2^20 long pairs are ~16 MB of driver state,
    * and the 10M-doc envelope's 999,963 verified pairs fit. */
  private val MaxDriverEdges = 1 << 20

  /** Near-duplicate cluster ids: connected components over a near-dup pair
    * graph, each document labeled with the minimum doc id reachable from it
    * (docs in no pair are their own cluster) — the step a dedup pipeline
    * runs AFTER pair detection, so "keep one per cluster" is
    * `filter(doc_id === cluster)`. Output (doc_id, cluster), one row per
    * `docs` row.
    *
    * The directed pair list is read from one cache (the caller's, when
    * `pairs` is already persisted, else one persisted here), and ONE
    * bounded pass collects at most 2^20 + 1 of its edges. Pairs with a
    * null end join nothing on either path, so they label nothing.
    *
    * Within the bound (the dedup_neardup workload's 2,000 pairs, the 10M
    * envelope's 999,963): union-find on the driver. The edge ends
    * are sorted and de-duplicated with the id column's own ordering (the
    * one `min` uses), union-find runs over their indices and always hangs
    * the larger root under the smaller, so each root is its component's
    * minimum id. The non-root labels join back to `docs` in one broadcast
    * join; a pair-list cache persisted here is released at once. This is
    * the partial-state-on-one-reducer shape of `skyline_agg`: the answer
    * is model-sized.
    *
    * Above the bound: min-label propagation with pointer doubling to
    * fixpoint, over the SAME cached pair list (pair detection never runs
    * twice). Labels live only on the pair-graph nodes (near-dup pairs are a
    * vanishing fraction of a 100 TB corpus, so per-iteration joins touch
    * the pair graph, never the corpus), the mirrored edge list is persisted
    * once, and each iteration takes the minimum over (own label, neighbors'
    * labels, label-of-own-label).
    * The last term is the pointer jump: label values are themselves node
    * ids, so joining the label table to itself lets a label leap 2^k hops
    * along a chain per round — convergence in O(log diameter) rounds instead
    * of O(diameter), and each Spark round is a whole job, so round count IS
    * the wall-clock of this operator at pair-graph sizes. (Composing k
    * fixpoint steps lazily into one materialization was MEASURED A LOSS —
    * 7.5 s → 12.5/20.4 s at k=2/3 on the sf0.1 kNN graph: the composed
    * plan references the round's checkpoint 3^k times and re-executes the
    * join tree per reference, so per-job cost grows faster than the job
    * count shrinks. One step per materialized round is the right shape.)
    * The driver-side loop carries only a change counter, never data. The
    * perceptual-hash cluster gates (`mm_phash_clusters`,
    * `mm_audiohash_clusters`) used to collapse on the driver up to 2^23
    * class pairs and fail above that; above 2^20 they now take this loop.
    *
    * Each round's label table is an EAGER `localCheckpoint`, not a plain
    * persist: the iteration references `labels` three times per round, so a
    * lineage that kept growing would nest the previous round's plan ~3×
    * into the next — geometric plan growth that (beyond planner cost)
    * overflows plan-string rendering within a few rounds when the input
    * pair plan is large (e.g. semantic dedup over k-means literals).
    * Checkpointing re-roots the plan at the materialized rows, so every
    * round plans against a constant-size tree. The checkpoint is
    * pair-graph-sized; on executor loss the job fails and re-runs (no
    * lineage to replay) — the standard iterative-algorithm trade, and cheap
    * at this table's size. Checkpoint storage sits below the CacheManager,
    * so rounds are freed explicitly: each superseded round in-loop, the
    * final one via [[graft.core.Caches]] on [[Caches.releaseAll]]. The
    * iterative loop is batch-only by contract.
    *
    * On both paths the corpus joins in exactly once, at the end, to label
    * singletons; caches are registered for [[Caches.releaseAll]]. Ids keep
    * their native (orderable) type end-to-end — no silent cast; pair ends
    * of two different types meet at their common type, as the mirrored
    * edge union already types them.
    */
  def nearDupClusters(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    nearDupClusters(docs, idCol, pairs, MaxDriverEdges)

  /** [[nearDupClusters]] with its driver-path bound given, so tests can run
    * both paths on one graph; a negative bound always takes the loop. */
  private[graft] def nearDupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                                     maxDriverEdges: Int): DataFrame = {
    // Cache the directed pair list BEFORE reading it: the bounded pass and
    // (above the bound) both unionAll branches would otherwise each
    // evaluate the full (expensive, uncached) pair-detection subtree. A
    // caller's already persisted `pairs` (nearDupModel's) is that cache:
    // a second copy would cost one more job and its storage.
    val fwd = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
    val ownCache = pairs.storageLevel == StorageLevel.NONE
    if (ownCache) Caches.persistTracked(fwd)
    val edges = fwd.unionAll(fwd.select(col("b").as("a"), col("a").as("b")))
    val idType = edges.schema("a").dataType
    val bounded = fwd.select(col("a").cast(idType), col("b").cast(idType))
      .limit(math.max(0, maxDriverEdges + 1)).collect()
    val labels =
      if (bounded.length <= maxDriverEdges) {
        if (ownCache) fwd.unpersist(blocking = false)
        broadcast(driverLabels(docs.sparkSession, bounded, idType))
      } else roundLabels(Caches.persistTracked(edges))
    docs.select(col(idCol).as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster"))
  }

  /** Driver union-find over collected (a, b) edges of type `idType`:
    * (doc_id, lbl) for every node whose component minimum is another node
    * (a root's label is its own id, which the caller's coalesce supplies). */
  private def driverLabels(spark: SparkSession, edges: Array[Row],
                           idType: DataType): DataFrame = {
    val ord = TypeUtils.getInterpretedOrdering(idType)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    // Edge k is (ends(2k), ends(2k + 1)).
    val ends: Array[AnyRef] = edges.iterator
      .filter(e => !e.isNullAt(0) && !e.isNullAt(1))
      .flatMap(e => Iterator(e.get(0), e.get(1)))
      .map(v => toCatalyst(v).asInstanceOf[AnyRef]).toArray
    // Node ids: the distinct edge ends in the column type's order, so an
    // index order IS the id order.
    val ids = ends.clone()
    java.util.Arrays.sort(ids, ord)
    var n = 0
    for (v <- ids) if (n == 0 || ord.compare(ids(n - 1), v) != 0) { ids(n) = v; n += 1 }
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val up = parent(c); parent(c) = r; c = up }
      r
    }
    def node(v: AnyRef) = java.util.Arrays.binarySearch(ids, 0, n, v, ord)
    for (k <- ends.indices by 2) {
      val (ra, rb) = (find(node(ends(k))), find(node(ends(k + 1))))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val toScala = CatalystTypeConverters.createToScalaConverter(idType)
    val rows = new java.util.ArrayList[Row]()
    (0 until n).foreach { i =>
      val root = find(i)
      if (root != i) rows.add(Row(toScala(ids(i)), toScala(ids(root))))
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("doc_id", idType, nullable = false),
      StructField("lbl", idType, nullable = false))))
  }

  /** The distributed collapse above the driver bound: min-label pointer
    * doubling over the persisted mirrored `edges` (a, b) to fixpoint, as
    * (doc_id, lbl) over the pair-graph nodes. */
  private def roundLabels(edges: DataFrame): DataFrame = {
    // The checkpoint's backing storage lives below the CacheManager, so it
    // must be freed explicitly: superseded rounds in-loop (their data has
    // already fed the next round's materialization), the final round via
    // the Caches registry after the caller consumes the result.
    def ckptRdd(df: DataFrame) = Caches.checkpointRdd(df)
    // Seed with the first propagation already applied: lbl₀ = min(id,
    // neighbors) — one fewer fixpoint round than an identity start.
    var labels = edges.groupBy("a")
      .agg(least(col("a"), min(col("b"))).as("lbl"))
      .select(col("a").as("id"), col("lbl"))
      .localCheckpoint()
    var labelsRdd = ckptRdd(labels)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 50) {
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("lbl").as("nlbl")), "b")
        .groupBy("a").agg(min(col("nlbl")).as("nmin"))
      // Pointer jump: every label value is a node id present in `labels`
      // (labels are minima over node ids of the same component), so lbl's
      // own label is one self-join away; a component-min label maps to
      // itself, which `least` ignores.
      val jump = labels.select(col("id").as("lbl"), col("lbl").as("j2"))
      // `old` rides along so the change check needs no extra join. The
      // eager localCheckpoint materializes the round AND re-roots the plan
      // (see the scaladoc) — the count below reads the STORED rows, so it
      // is a cached scan, not a recompute. Convergence deliberately does
      // NOT use the kCore `observe` trick here: measured at the 10M-doc
      // envelope, a CollectMetrics node wrapping this round's THREE-WAY
      // label join regressed the collapse 80.7 → 133–170 s (it sits in
      // the expensive join stage and breaks its codegen span), while the
      // checkpoint-scan count costs ~nothing.
      val round =
        labels.join(nbrMin.select(col("a").as("id"), col("nmin")), Seq("id"), "left")
          .join(jump, Seq("lbl"), "left")
          .select(col("id"),
            least(col("lbl"),
              coalesce(col("nmin"), col("lbl")),
              coalesce(col("j2"), col("lbl"))).as("lbl"),
            col("lbl").as("old"))
      val next = round.localCheckpoint()
      changed = next.filter(col("lbl") =!= col("old")).count()
      labelsRdd.foreach(_.unpersist(blocking = false)) // superseded round
      labels = next.select(col("id"), col("lbl"))
      labelsRdd = ckptRdd(next)
      iter += 1
    }
    // The returned plan reads the LAST checkpoint — release it only after
    // the caller consumes the result (Caches.releaseAll / Caches.scoped).
    labelsRdd.foreach(Caches.trackRdd)
    // A silent non-converged result would mislabel clusters; 50 rounds
    // covers any pathological dup-graph diameter under pointer doubling
    // (2^50 hops), so running out means the input is broken — fail loudly,
    // don't return wrong labels.
    require(changed == 0, s"nearDupClusters did not converge in $iter rounds")
    labels.select(col("id").as("doc_id"), col("lbl"))
  }

  /** The shared near-dup model a DEPLOYMENT consumes: verified MinHash pair
    * graph and cluster labels computed ONCE (both persisted via
    * [[graft.core.Caches]]), feeding every downstream surface — keep-lists
    * (`clusters.filter(doc_id === cluster)`), cluster-size histograms,
    * curation chains — without re-running banding + verify + collapse per
    * consumer. These two tables are the model's only persisted state:
    * [[minhashNearDups]] itself keeps no shingle or signature cache.
    * Opt-in: the gated queries each re-derive their own chain by design
    * (gate independence — each query must stand alone against its
    * oracle); a pipeline that consumes several surfaces builds this once
    * instead. Consume eagerly, then release via
    * [[Caches.releaseAll]] / [[Caches.scoped]] like every other
    * pipeline intermediate. */
  final case class NearDupModel(pairs: DataFrame, clusters: DataFrame)

  /** Build a [[NearDupModel]]: [[minhashNearDups]] (from text, nothing
    * cached inside) → persist → [[nearDupClusters]] over the SAME persisted
    * pair graph → persist. */
  def nearDupModel(docs: DataFrame, idCol: String, n: Int, b: Int, r: Int,
                   num: Int, den: Int,
                   maxBucket: Int = DefaultMaxBucket): NearDupModel =
    nearDupModel(docs, idCol, n, b, r, num, den, maxBucket, MaxDriverEdges)

  /** [[nearDupModel]] with the collapse's driver-path bound given (tests). */
  private[graft] def nearDupModel(docs: DataFrame, idCol: String, n: Int, b: Int,
                                  r: Int, num: Int, den: Int, maxBucket: Int,
                                  maxDriverEdges: Int): NearDupModel = {
    val pairs = Caches.persistTracked(
      minhashNearDups(docs, idCol, n, b, r, num, den, maxBucket))
    val clusters = Caches.persistTracked(
      nearDupClusters(docs, idCol, pairs, maxDriverEdges))
    NearDupModel(pairs, clusters)
  }

  /** Shared EXACT-Jaccard (PPJoin) artifacts — the fuzzy-pair model a
    * deployment builds once and every contamination / estimator / rollup
    * consumer reuses: `shingles` the persisted distinct (id, s) table,
    * `pairs` the persisted verified pair graph
    * (id_a, id_b, c_inter, c_union), and [[sigs]] the lazily-persisted
    * k-slot md5-fold signature table ([[mdSignatures]]) for estimator
    * readouts. Same release contract as [[NearDupModel]]
    * ([[Caches.releaseAll]] / [[Caches.scoped]] after consuming). */
  final case class FuzzyPairModel(shingles: DataFrame, pairs: DataFrame,
                                  k: Int) {
    lazy val sigs: DataFrame =
      Caches.persistTracked(mdSignatures(shingles, k))
  }

  /** Build a [[FuzzyPairModel]]: shingle ONCE → persist →
    * [[jaccardNearDupsFromShingles]] → persist; signatures on demand. */
  def fuzzyPairModel(docs: DataFrame, idCol: String, n: Int,
                     num: Int, den: Int, k: Int = 36): FuzzyPairModel = {
    val sr = Caches.persistEagerTracked(shingleRows(docs, idCol, n))
    FuzzyPairModel(sr,
      Caches.persistTracked(
        jaccardNearDupsFromShingles(sr, num, den)), k)
  }

  /** Cross-source near-dup matrix over an existing verified pair graph —
    * the shared-model consumer behind the `dedup_source_matrix` gate: the
    * broadcast-sized (id, source) table joins to both pair ends and the
    * unordered source pair rolls up. Self-pairs count within-source
    * duplication. Output: (src_a ≤ src_b, n_pairs). */
  def sourcePairMatrix(pairs: DataFrame, docs: DataFrame, idCol: String,
                       srcCol: String): DataFrame = {
    val srcs = docs.select(col(idCol).as("id"), col(srcCol).as("src"))
    pairs
      .join(srcs.select(col("id").as("id_a"), col("src").as("sa")), "id_a")
      .join(srcs.select(col("id").as("id_b"), col("src").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** `bits`-wide SimHash over whitespace tokens: bit p is set iff the sum
    * over tokens of ±1 (sign of bit p of the token's xxhash64) is ≥ 0.
    * Documents differing in a few tokens land at small Hamming distance.
    * Unrolled at plan-build time (shift amounts must be Scala Ints); the
    * repeated `hashes` subtree is shared by codegen subexpression
    * elimination. */
  private def simhashBits(text: Column, bits: Int): Column = {
    val hashes = transform(split(text, " "), t => xxhash64(t))
    (0 until bits).map { p =>
      when(aggregate(hashes, lit(0),
          (acc, h) => acc + when(shiftright(h, p).bitwiseAND(1) === 1, 1).otherwise(-1))
        >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** 32-bit SimHash signature (the reference-parity-shaped surface; no
    * DuckDB oracle — xxhash64 is engine-specific — so this gets the
    * driver's rows-only check). */
  def simhashCol(text: Column): Column = simhashBits(text, 32)

  /** 64-bit token hash assembled from the first 16 hex chars of md5 —
    * ENGINE-NEUTRAL: DuckDB (and any SQL engine with md5) can replay it
    * per hex character, which is what flips the SimHash gates from
    * rows-only to hash-green. The two 32-bit halves are parsed separately
    * (`conv` of 8 hex chars fits a long with no ANSI overflow) and glued
    * with shift/or — bitwise ops never overflow. xxhash64 stays the
    * production default (one codegen'd call vs an md5 + two string parses
    * per token). */
  def md5TokenHash(t: Column): Column = {
    val hx = md5(t)
    val hi = conv(substring(hx, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hx, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** 64-bit SimHash rows (id, h): bit p is set iff the ±1 sum over tokens
    * of bit p of `tokenHash(token)` is ≥ 0. Null text hashes like the empty
    * string (one empty token) so row coverage matches [[simhashCol]] —
    * a null-text doc must still be *visible* to the pair search.
    *
    * Built explode-then-aggregate, not as a per-row column: each token is
    * hashed ONCE and the 64 per-bit ±1 sums partial-combine map-side —
    * the [[simhashBits]] shape would fold the token array once per bit.
    * Same signature (the ±1 sums are order-independent). */
  def simhash64Rows(docs: DataFrame, idCol: String,
                    tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("t"))
      .select(col("id"), tokenHash(col("t")).as("th"))
    val sums = (0 until 64).map(p =>
      sum(when(shiftright(col("th"), p).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$p"))
    toks.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"),
        (0 until 64).map(p =>
          when(col(s"s$p") >= 0, lit(1L << p)).otherwise(lit(0L))).reduce(_ + _).as("h"))
  }

  /** SimHash near-duplicate pairs via the block-combination Hamming search
    * (Manku, Jain & Das Sarma, WWW'07 §3; reference intent: near-dup
    * detection at corpus scale): split the 64-bit signature into `blocks`
    * nearly-equal blocks with `blocks > maxDist` — by pigeonhole, two
    * signatures within Hamming distance `maxDist` differ in at most
    * `maxDist` blocks, so they agree EXACTLY on at least one combination of
    * `blocks − maxDist` blocks. Candidates come from an equi-join on
    * (combination id, that combination's concatenated block values), then
    * the true distance is one `bit_count(xor)`. Exactness is unconditional;
    * `blocks` only tunes the cost shape.
    *
    * KEY-ENTROPY ARGUMENT (why `blocks` defaults to 6, not the minimal
    * maxDist+1 = 4): the join key carries the bits of `blocks − maxDist`
    * blocks, i.e. ≥ ⌊64/blocks⌋·(blocks−maxDist) bits. At blocks = 4 that
    * is one 16-bit block — random signatures collide with probability
    * ≈ 4·2⁻¹⁶, which at N = 10⁹ documents is ~6·10¹³ candidate pairs from
    * noise alone: quadratic blow-up with a small constant. At blocks = 6
    * the key is 3 blocks ≈ 32 bits over C(6,3) = 20 combinations:
    * ~20·2⁻³²·N²/2 ≈ 2·10⁹ candidates at the same N — linear-ish in the
    * corpus and each verified by one xor. The trade is a 20-row (vs 4-row)
    * explode per doc — linear, shuffle-friendly — for a ~10⁴× collapse in
    * random collisions; raise `blocks` further as N grows.
    *
    * The entropy argument bounds RANDOM collisions only: m documents with
    * the co-identical signature (boilerplate mirrors) share all 20
    * combination keys and emit ~20·C(m,2) candidates, so combination-key
    * buckets above `maxBucket` rows are excluded first ([[dropHotBuckets]];
    * [[DefaultMaxBucket]] documents the exact-dedup-first contract that
    * makes the cap a no-op; `Int.MaxValue` disables it).
    *
    * Output: (id_a, id_b, dist ≤ maxDist), exactly all such pairs (from
    * non-excluded buckets).
    */
  def simhashNearDups(docs: DataFrame, idCol: String, maxDist: Int = 3,
                      blocks: Int = 6,
                      tokenHash: Column => Column = xxhash64(_),
                      maxBucket: Int = DefaultMaxBucket): DataFrame =
    hammingPairs(simhash64Rows(docs, idCol, tokenHash), 64,
      maxDist, blocks, maxBucket)

  /** GENERALIZED Manku block-combination Hamming search over any integer
    * signature column — the engine behind [[simhashNearDups]], reused
    * directly by the perceptual-hash pairers (16-bit image aHash / audio
    * fingerprints), where the signature space is small and the input is
    * typically the DISTINCT-value table rather than the corpus (pairing
    * then scales with the value space, not the document count).
    *
    * `sig` must be (id, h) with 0 ≤ h < 2^bits (higher bits would count
    * into the xor distance). Splits the `bits`-wide signature into
    * `blocks` nearly-equal blocks (`blocks > maxDist`); by pigeonhole two
    * signatures within Hamming `maxDist` agree exactly on at least one
    * combination of `blocks − maxDist` blocks, so candidates come from an
    * equi-join per combination and the true distance is one
    * `bit_count(xor)` — exact, `blocks` only tunes the cost shape (see
    * [[simhashNearDups]]'s key-entropy argument for choosing it).
    * Combination-key buckets above `maxBucket` are excluded first
    * ([[dropHotBuckets]]). Output: (id_a, id_b, dist ≤ maxDist), id_a <
    * id_b, exactly all such pairs from non-excluded buckets. */
  def hammingPairs(sig0: DataFrame, bits: Int, maxDist: Int, blocks: Int,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(bits >= 2 && bits <= 64, s"bits out of range: $bits")
    require(maxDist >= 0 && blocks > maxDist && blocks <= bits,
      s"need maxDist < blocks <= $bits: maxDist=$maxDist blocks=$blocks")
    // First (bits % blocks) blocks are one bit wider: widths differ by ≤ 1.
    val base = bits / blocks
    val rem  = bits % blocks
    val widths  = Array.tabulate(blocks)(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    def blockVal(i: Int): Column = {
      val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1
      shiftrightunsigned(col("h"), offsets(i)).bitwiseAND(lit(mask))
    }
    val m = blocks - maxDist
    val combos = (0 until blocks).combinations(m).toSeq
    val sig = Caches.persistEagerTracked(sig0.select(col("id"), col("h")))
    val exploded = dropHotBuckets(
      sig.select(col("id"), col("h"),
        explode(array(combos.zipWithIndex.map { case (bs, ci) =>
          struct(lit(ci).as("c") +:
            bs.zipWithIndex.map { case (bi, t) => blockVal(bi).as(s"v$t") }: _*)
        }: _*)).as("k")),
      Seq("k"), maxBucket)
    exploded.as("a").join(exploded.as("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).cast("long").as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** INCREMENTAL deduplication — the ingestion-time shape: dedup an
    * incoming batch against the EXISTING corpus and return the new doc ids
    * that survive. (New-vs-new duplication inside the batch is the plain
    * batch problem — [[graft.operators.TextOps.dedupExact]] /
    * [[minhashNearDups]] — and deliberately out of this contract.)
    *
    * A new doc is dropped iff (a) its normalized-text hash
    * ([[TextOps.normHashCol]]) already exists in the corpus, or (b) banded
    * MinHash LSH proposes an old neighbor and exact shingle-set Jaccard
    * verifies J ≥ num/den — the same candidate/verify semantics and the
    * same hot-bucket cap as [[minhashNearDups]], restricted to new × old
    * pairs.
    *
    * Scale shape: the exact pass is a LEFT ANTI hash join on the
    * normalized key (both sides pruned to two columns; the NEW side is
    * batch-sized, so AQE broadcasts it against the corpus-sized build).
    * The fuzzy pass runs ONE banding over the tagged old ∪ new union, its
    * keys straight from text ([[minhashBands]]) with the side tag riding
    * along — the hot-bucket guard sees COMBINED bucket occupancy, so an
    * old-side boilerplate cluster cannot fan a new doc out quadratically —
    * and the band-key equi-join filters on the side tags, so only
    * cross-side candidates materialize (old×old, the overwhelmingly
    * largest pair population at steady state, never leaves the bucket).
    * Each candidate is verified against its new and old texts
    * ([[verifiedPairs]]); nothing is persisted. */
  def incrementalDedup(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
                       n: Int, b: Int, r: Int, num: Int, den: Int,
                       maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"Jaccard threshold must be in (0, 1]: $num/$den")
    val newKeyed = newDocs.select(col(idCol).as("id"),
      TextOps.normHashCol(col("text")).as("k"))
    val oldKeys = oldDocs.select(TextOps.normHashCol(col("text")).as("k"))
    val exactSurvivors = newKeyed
      .join(oldKeys, Seq("k"), "left_anti").select(col("id"))
    // One banding over the union; ids are disjoint across sides by
    // contract (same id space, different rows).
    val tagged = oldDocs.select(col(idCol), col("text"), lit(0).as("side"))
      .unionAll(newDocs.select(col(idCol), col("text"), lit(1).as("side")))
    val g = dropHotBuckets(
      graft.plans.GraftFunctions.on(tagged).select(col(idCol).as("id"),
        col("side"), explode(minhashBands(col("text"), n, b, r)).as("bk")),
      Seq("bk"), maxBucket)
    val cond = col("a.bk") === col("b.bk") &&
      col("a.side") === 1 && col("b.side") === 0
    val cand = g.as("a").join(g.as("b"), cond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    def texts(d: DataFrame) = d.select(col(idCol).as("id"), col("text"))
    val fuzzyDropped = verifiedPairs(cand, texts(newDocs), texts(oldDocs),
        n, num, den)
      .select(col("id_a").as("id")).distinct()
    exactSurvivors.join(fuzzyDropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
  }
}
