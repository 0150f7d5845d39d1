package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Corpus-level statistics operators for training-data curation — the
  * "understand the corpus before you filter it" toolkit: per-group
  * distinctive terms (TF-IDF), sketched distinct counts (KMV), repeated-span
  * contamination stats, and deterministic stratified sampling.
  *
  * Everything shuffles group-level or vocabulary-level aggregates, never raw
  * token streams; the one sketch with unbounded input ([[kmvDistinct]]) is
  * explicitly bounded-state — the sketch IS the aggregation buffer, so a
  * 100 TB group costs the same shuffle bytes as a 1 GB one.
  */
object CorpusOps {

  /** Per-group top-`k` distinctive terms by integer TF-IDF.
    *
    * tf = number of docs in the group containing the token, df = number of
    * docs in the corpus containing it; score = (tf · 10⁶) div df — a pure
    * integer rarity-weighted frequency, so the oracle compare is exact (no
    * float log-idf). Ties break lexicographically.
    *
    * Shape for scale: one explode → distinct (map-side-combined hash
    * aggregation) builds the (doc, group, token) incidence, persisted via
    * [[graft.core.Caches]] (release after consuming, like the dedup
    * pipelines) because BOTH the tf and df branches consume it — uncached,
    * Catalyst re-runs the corpus explode per branch. tf and df are then two
    * map-side-combined aggregations; the join and the top-k window run on
    * (group, token) / (token) aggregates — vocabulary-sized, orders of
    * magnitude below the corpus — and Spark's WindowGroupLimit prunes to
    * rank ≤ k before the final per-group sort.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, groupCol: String,
                    k: Int): DataFrame = {
    val dt = graft.core.Caches.persistTracked(docs
      .select(col(idCol).as("doc_id"), col(groupCol),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .distinct())
    val dfq = dt.groupBy("tok").agg(count(lit(1)).as("df"))
    val tfq = dt.groupBy(groupCol, "tok").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(groupCol).orderBy(col("score").desc, col("tok"))
    tfq.join(dfq, "tok")
      .withColumn("score", expr("(tf * CAST(1000000 AS BIGINT)) DIV df"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(groupCol), col("tok"), col("score"),
        col("rnk").cast("long").as("rnk"))
  }

  /** Bounded-state k-minimum-values buffer: the `k` smallest DISTINCT
    * strings seen, kept sorted ascending. `finish` yields the k-th smallest
    * (the KMV sketch value) or null while fewer than `k` distinct values
    * have arrived.
    *
    * This is the whole point of KMV (Bar-Yossef et al., RANDOM'02; Beyer et
    * al., SIGMOD'07): distinct-count without a distinct — dedup happens
    * inside the ≤ k-element buffer, so partial aggregation ships at most
    * `k` hashes per partition per group instead of the full value stream,
    * and no global distinct exchange ever runs. The O(k) list insert per row
    * caps `k` at 1024 (enforced below — ±3% standard error at k = 1024,
    * already beyond what a curation dashboard needs): past that, per-row
    * cost grows linearly and the right fix is a bounded TreeSet + hash-set
    * buffer, not a bigger list.
    */
  class KMinAgg(k: Int) extends Aggregator[String, List[String], String] {
    require(k >= 2, s"KMV needs k >= 2 (estimator divides by k-1): k=$k")
    require(k <= 1024,
      s"KMinAgg's O(k) list insert is for k <= 1024; got k=$k " +
        "(swap the buffer for a bounded TreeSet before raising the ceiling)")
    override def zero: List[String] = Nil

    private def insert(b: List[String], v: String): List[String] =
      if (b.length == k && v >= b.last) b // full and not below the cutoff
      else if (b.contains(v)) b           // already sketched
      else {
        val (lo, hi) = b.partition(_ < v)
        val nb = lo ::: v :: hi
        if (nb.length > k) nb.init else nb
      }

    override def reduce(b: List[String], v: String): List[String] =
      if (v == null) b else insert(b, v)

    override def merge(b1: List[String], b2: List[String]): List[String] =
      b2.foldLeft(b1)(insert)

    override def finish(b: List[String]): String =
      if (b.length == k) b.last else null

    // Kryo only crosses the shuffle boundary; within a task the buffer is a
    // live JVM list.
    override def bufferEncoder: Encoder[List[String]] =
      Encoders.kryo[List[String]]
    override def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Column form of [[KMinAgg]]: k-th smallest distinct value of `v`. */
  def kmin_distinct(v: Column, k: Int): Column =
    udaf(new KMinAgg(k)).apply(v)

  /** Per-group estimated distinct word-`n`-gram shingle count via a KMV
    * sketch (k-th minimum of the md5 hash space), alongside the exact count
    * for accuracy inspection: (groupCol, est_distinct, n_exact).
    *
    * The estimator is (k−1) · 2⁵⁶ div v_k over the first 14 md5 hex chars
    * (56-bit values — integer arithmetic end-to-end, so DuckDB replays it
    * exactly). `est_distinct` is null for groups with fewer than `k`
    * distinct shingles (the sketch never saturated — report exact instead).
    *
    * Scale: the sketch path shuffles ≤ k hashes per partition per group —
    * THE bounded-state answer for "how many distinct shingles per source"
    * over 100 TB. `n_exact` (a countDistinct: expand + two-phase agg) is the
    * gate-scale accuracy probe; drop it in production (`withExact = false`
    * emits est_distinct only — one scan, no exact branch), where exact is
    * the thing the sketch exists to avoid. With the probe on, the shingle
    * explode is persisted (registered with [[graft.core.Caches]] — release
    * after consuming) so the corpus is exploded ONCE for both branches, not
    * once per branch.
    */
  def kmvDistinct(docs: DataFrame, groupCol: String, n: Int,
                  k: Int, withExact: Boolean = true): DataFrame = {
    val shPlain = graft.plans.GraftFunctions.on(docs)
      .select(col(groupCol),
        explode(DedupOps.shingles(col("text"), n)).as("s"))
      .select(col(groupCol), md5(col("s")).as("h"))
    val sh = if (withExact) graft.core.Caches.persistTracked(shPlain) else shPlain
    val sketch = sh.groupBy(groupCol)
      .agg(kmin_distinct(col("h"), k).as("hk"))
      .select(col(groupCol),
        conv(substring(col("hk"), 1, 14), 16, 10).cast("long").as("vk"))
    val est = expr(s"CAST(${(k - 1).toLong * (1L << 56)} AS BIGINT) DIV vk")
      .as("est_distinct")
    if (!withExact) sketch.select(col(groupCol), est)
    else {
      val exact = sh.groupBy(groupCol)
        .agg(countDistinct(col("h")).as("n_exact"))
      sketch.join(exact, groupCol)
        .select(col(groupCol), est, col("n_exact"))
    }
  }

  /** Per-group HyperLogLog REGISTER sketch over word-`n`-gram shingles —
    * the register table itself (Flajolet et al. 2007), not the float
    * estimate: register index = the hash's first byte mod `m`, register
    * value = max over hashes of (leading zeros of the next 48 hash bits
    * + 1). Output: (groupCol, reg, max_rho) — registers no shingle ever
    * hit are absent (their implied value is 0).
    *
    * Why registers and not the estimate: the registers ARE the mergeable
    * sketch (pairwise max — a union of corpora is a union of register
    * tables re-maxed), they are integer-exact (the oracle replays them
    * bit-for-bit; the harmonic-mean estimate is float post-processing any
    * consumer can apply), and they are the thing a pipeline STORES per
    * shard/day to answer later union-cardinality questions. Complements
    * [[kmvDistinct]]: KMV gives an integer estimate directly but keeps k
    * hashes; HLL keeps m 6-bit registers — the smaller, union-friendlier
    * state. Scale: one explode + one (group, reg) aggregation, map-side
    * combined; state per group is exactly m longs.
    *
    * rho arithmetic (engine-neutral): the 48-bit value v = hex chars 3..14
    * of md5; Spark `bin(v)` and DuckDB `bin(v::BIGINT)` both render v
    * without leading zeros, so rho = 49 − length(bin(v)), with v = 0
    * (probability 2⁻⁴⁸) pinned to the max rho 49. */
  def hllRegisters(docs: DataFrame, groupCol: String, n: Int,
                   m: Int = 64): DataFrame = {
    require(m >= 16 && m <= 256 && (m & (m - 1)) == 0,
      s"m must be a power of two in 16..256: $m")
    val h = graft.plans.GraftFunctions.on(docs)
      .select(col(groupCol),
        explode(DedupOps.shingles(col("text"), n)).as("s"))
      .select(col(groupCol), md5(col("s")).as("h"))
      .select(col(groupCol),
        pmod(conv(substring(col("h"), 1, 2), 16, 10).cast("long"), lit(m))
          .as("reg"),
        conv(substring(col("h"), 3, 12), 16, 10).cast("long").as("v"))
    h.select(col(groupCol), col("reg"),
        when(col("v") === 0L, lit(49L))
          .otherwise(lit(49L) - length(bin(col("v")))).as("rho"))
      .groupBy(col(groupCol), col("reg"))
      .agg(max(col("rho")).as("max_rho"))
  }

  /** Per-group repeated-span statistics — the cross-document contamination
    * signal (boilerplate, licence headers, benchmark leakage) a curation
    * pipeline monitors: word-`n`-gram span instances per group, instances of
    * spans that occur in more than one document ANYWHERE in the corpus, and
    * the distinct count of such spans. Output: (groupCol, n_spans,
    * n_dup_instances, n_dup_spans).
    *
    * Shape for scale: span instances aggregate straight to (span, group)
    * partial rows — count + per-group distinct docs — then global span
    * document-frequency is the SUM of the per-group distinct counts (each
    * doc lives in exactly one group, asserted nowhere cheaper than here by
    * construction of the corpus schema). The join back runs at (span, group)
    * granularity, at most |groups| rows per span key — never the raw
    * instance stream against a hot boilerplate span, the skew trap the
    * Jaccard document-frequency path already dodges (VERDICT r5).
    *
    * The (span, group) aggregate is persisted (registered with
    * [[graft.core.Caches]] — release after consuming, like the dedup
    * pipelines): both the global-frequency branch and the join consume it,
    * and without the cache Catalyst re-runs the corpus explode once per
    * branch — the dominant cost at 100 TB, traded here for a span-
    * vocabulary-sized materialization.
    *
    * PRECONDITION on `docs`: each doc_id appears under exactly ONE group —
    * the corpus-table invariant (a document belongs to one source). Global
    * span document-frequency is the sum of per-group distinct-doc counts,
    * which double-counts a doc repeated across groups (inflating ndocs and
    * the n_dup_* stats). Deduplicate to one group per doc before calling if
    * the input can violate this.
    */
  def spanStats(docs: DataFrame, idCol: String, groupCol: String,
                n: Int): DataFrame = {
    val sp = graft.plans.GraftFunctions.on(docs)
      .select(col(groupCol), col(idCol).as("doc_id"),
        explode(DedupOps.shingles(col("text"), n)).as("s"))
      .select(col(groupCol), col("doc_id"), md5(col("s")).as("sh"))
    val perGroup = graft.core.Caches.persistTracked(
      sp.groupBy("sh", groupCol)
        .agg(count(lit(1)).as("inst"), countDistinct(col("doc_id")).as("nd")))
    val global = perGroup.groupBy("sh").agg(sum(col("nd")).as("ndocs"))
    perGroup.join(global, "sh")
      .groupBy(groupCol)
      .agg(sum(col("inst")).as("n_spans"),
        sum(when(col("ndocs") > 1, col("inst")).otherwise(0L))
          .as("n_dup_instances"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
  }

  /** Mergeable Misra–Gries heavy-hitters buffer over strings with `cap`
    * counters (Misra & Gries '82; mergeability per Agarwal et al.,
    * "Mergeable Summaries", PODS'12). `reduce` is the classic increment-or-
    * decrement-all step; `merge` sums counters then subtracts the
    * (cap+1)-th largest and drops the non-positive. Guarantee: every value
    * with true count > N/(cap+1) is among the surviving keys — the sketch
    * can over-report membership but never misses a true heavy hitter, which
    * is exactly what a candidate-generation pass needs.
    */
  class MgSketchAgg(cap: Int)
      extends Aggregator[String, Map[String, Long], Array[String]] {
    require(cap >= 1, s"Misra-Gries needs at least one counter: cap=$cap")
    override def zero: Map[String, Long] = Map.empty

    override def reduce(b: Map[String, Long], v: String): Map[String, Long] =
      if (v == null) b
      else b.get(v) match {
        case Some(c) => b.updated(v, c + 1)
        case None if b.size < cap => b.updated(v, 1L)
        case None => b.flatMap { case (k, c) => if (c > 1) Some(k -> (c - 1)) else None }
      }

    override def merge(b1: Map[String, Long], b2: Map[String, Long]): Map[String, Long] = {
      val m = b2.foldLeft(b1) { case (acc, (k, c)) =>
        acc.updated(k, acc.getOrElse(k, 0L) + c)
      }
      if (m.size <= cap) m
      else {
        val cut = m.values.toSeq.sorted(Ordering[Long].reverse).apply(cap)
        m.flatMap { case (k, c) => if (c > cut) Some(k -> (c - cut)) else None }
      }
    }

    override def finish(b: Map[String, Long]): Array[String] = b.keys.toArray

    override def bufferEncoder: Encoder[Map[String, Long]] =
      Encoders.kryo[Map[String, Long]]
    override def outputEncoder: Encoder[Array[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[String]]()
  }

  /** Column form of [[MgSketchAgg]]: candidate heavy-hitter values. */
  def mg_sketch(v: Column, cap: Int): Column =
    udaf(new MgSketchAgg(cap)).apply(v)

  /** EXACT heavy hitters — every value of `valCol` whose count exceeds
    * N/(cap+1), with its exact count — via the standard two-pass scheme:
    * a one-pass Misra–Gries sketch proposes ≤ `cap` candidates (plus the
    * total in the same pass), then a broadcast semi-join recounts ONLY the
    * candidates exactly. Output: (value, cnt), cnt · (cap+1) > N.
    *
    * Why not a plain groupBy+filter: its shuffle state is vocabulary-sized
    * — billions of keys for tokens at 100 TB. Here every aggregation is
    * bounded by `cap` per partition, the recount shuffles only candidate
    * rows, and the result is still EXACT (the MG guarantee makes the
    * candidate set a superset of the answer; the recount + threshold
    * removes the false positives).
    */
  def heavyHitters(df: DataFrame, valCol: String, cap: Int): DataFrame = {
    val vals = df.select(col(valCol).as("v"))
    // N counts NON-NULL values only: the MG sketch and the recount join both
    // ignore nulls, so a count(*) total would inflate the N/(cap+1)
    // threshold with rows that can never be returned.
    val cand = vals
      .agg(mg_sketch(col("v"), cap).as("cand"), count(col("v")).as("total"))
      .select(explode(col("cand")).as("v"), col("total"))
    vals.join(broadcast(cand), "v")
      .groupBy("v", "total").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (cap + 1) > col("total"))
      .select(col("v").as(valCol), col("cnt"))
  }

  /** Benchmark decontamination: train-corpus docs that share at least one
    * word-`n`-gram span with ANY eval-corpus doc, with the count of distinct
    * shared spans — the standard "remove eval leakage before training" pass.
    * Output: (doc_id, n_hits), contaminated docs only.
    *
    * The eval span set is explicitly `broadcast()`: eval suites are small by
    * construction (thousands of docs, ≪ executor memory), so contamination
    * checking a 100 TB train corpus is one broadcast-hash semi-pass over the
    * train spans — no shuffle of train data at all. If an eval set ever
    * outgrows broadcast, drop the hint and AQE falls back to a sort-merge
    * join on the span hash.
    */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                    n: Int): DataFrame = {
    val evalSpans = graft.plans.GraftFunctions.on(eval)
      .select(explode(DedupOps.shingles(col("text"), n)).as("s"))
      .select(md5(col("s")).as("sh")).distinct()
    graft.plans.GraftFunctions.on(train)
      .select(col(idCol).as("doc_id"),
        explode(DedupOps.shingles(col("text"), n)).as("s"))
      .select(col("doc_id"), md5(col("s")).as("sh")).distinct()
      .join(broadcast(evalSpans), "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Exact discrete quantiles (lower convention: smallest value whose
    * cumulative count reaches ⌈q·n/100⌉) of an integer column per group, via
    * a value histogram + running sum — one output column `p<q>` per
    * requested percentage.
    *
    * This is the scale-safe shape for exact quantiles over grouped data: the
    * histogram groupBy is map-side combined down to (group, value) rows, the
    * window runs over value-domain-sized partitions (NOT corpus-sized — for
    * continuous values bucket first), and the final conditional-min
    * aggregation is one more combine. Contrast `percentile`, which collects
    * every raw value per group, and `approx_percentile`, whose sketch DuckDB
    * cannot replay — this formulation is exact, bounded, and engine-neutral.
    */
  def discQuantiles(df: DataFrame, groupCol: String, valCol: String,
                    qs: Seq[Int]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100),
      s"quantile percentages out of range: $qs")
    val hist = df.groupBy(groupCol, valCol).agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum",
        sum("c").over(Window.partitionBy(groupCol).orderBy(valCol)))
      .withColumn("n", sum("c").over(Window.partitionBy(groupCol)))
    val aggs = qs.map(q =>
      min(when(col("cum") * 100 >= col("n") * q, col(valCol))).as(s"p$q"))
    cum.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
  }

  /** Cross-group span-overlap matrix — which sources duplicate each other,
    * the signal a mixture designer reads before weighting sources (and the
    * pairwise view [[decontaminate]] gives for one eval set). Output:
    * (src_a, src_b, n_shared) for group pairs sharing ≥ 1 distinct
    * word-`n`-gram span, src_a < src_b.
    *
    * Scale shape: ONE shuffle, NO join — each span aggregates straight to
    * its set of groups (`collect_set`, map-side-combined and bounded by
    * |groups| per key, so a boilerplate span carries at most one set, never
    * its instance count), and the ordered group pairs explode from the
    * sorted set inline. Output fanout per span is bounded by groups², not
    * docs², and the final pair count aggregates over at most
    * C(|groups|, 2) keys. */
  def sourceOverlap(docs: DataFrame, groupCol: String, n: Int): DataFrame = {
    val spanGroups = graft.plans.GraftFunctions.on(docs)
      .select(col(groupCol).as("g"),
        explode(DedupOps.shingles(col("text"), n)).as("s"))
      .groupBy(md5(col("s")).as("sh"))
      .agg(array_sort(collect_set(col("g"))).as("gs"))
      .filter(size(col("gs")) > 1)
    // All ordered pairs (gs[i], gs[j]), i < j, from the sorted group set.
    val pairs = flatten(transform(
      sequence(lit(1), size(col("gs")) - 1),
      i => transform(slice(col("gs"), i + 1, size(col("gs"))),
        b => struct(element_at(col("gs"), i).as("a"), b.as("b")))))
    spanGroups
      .select(explode(pairs).as("p"))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Unigram-surprisal banding — the corpus-statistics stand-in for
    * perplexity filtering: a document whose tokens are globally rare scores
    * high (gibberish / wrong-corpus text), one built from boilerplate scores
    * low. Integer-exact end to end: token surprisal = (scale · N) div cnt,
    * doc score = mean token surprisal, band = score div bandDiv. Output:
    * (band, cnt) histogram.
    *
    * Shape for scale: ONE corpus explode into a persisted (doc, token)
    * incidence (the [[tfidfTopTerms]] pattern — release caches after
    * consuming); global token counts and the corpus total derive from the
    * incidence, not from re-scans. The frequency join-back runs at
    * (doc, token) granularity — the skew-safe document-frequency shape, not
    * an instance-stream join against hot tokens.
    *
    * Integer headroom: the binding constraint is the PER-DOC score sum,
    * bounded by max(ntok_doc) · scale · N (a long document made entirely of
    * corpus-unique tokens scores scale·N per token) — that product must stay
    * below 2⁶³, and ANSI mode fails loudly if it does not. At the default
    * 10⁶ scale and a 10⁵-token max document that allows N ≈ 9·10⁷ total
    * tokens before the worst CASE could overflow; real corpora sit orders of
    * magnitude below the worst case (a token's surprisal is scale·N/cnt, and
    * high-cnt tokens dominate long documents), but drop `scale` — or divide
    * surprisal by ntok earlier — when the bound gets tight.
    */
  def surprisalBands(docs: DataFrame, idCol: String, scale: Long = 1000000L,
                     bandDiv: Long = 10000000L): DataFrame = {
    val dt = graft.core.Caches.persistTracked(docs
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c_dt")))
    val tc = graft.core.Caches.persistTracked(
      dt.groupBy("tok").agg(sum(col("c_dt")).as("cnt")))
    val n = tc.agg(sum(col("cnt")).as("total"))
    dt.join(tc, "tok").crossJoin(broadcast(n))
      .withColumn("s", col("c_dt") * expr(s"($scale * total) DIV cnt"))
      .groupBy("doc_id").agg(sum(col("s")).as("score"), sum(col("c_dt")).as("ntok"))
      .select(expr(s"(score DIV ntok) DIV $bandDiv").as("band"))
      .groupBy("band").agg(count(lit(1)).as("cnt"))
  }

  /** Source-drift banding — the "did my corpus shift" monitor a mixture
    * designer reads when a source is re-crawled or swapped: for every token
    * seen in either of two groups, the ratio of its smoothed per-million
    * frequencies, folded into a decile histogram. Output: (band, n_tokens)
    * where band = ((fa+1)·100 div (fb+1)) div 10, f = (cnt·10⁶) div total —
    * band 10 ≈ unchanged, low bands = token collapsed in A, high bands =
    * token surged in A. Integer-exact end to end, and scale-safe by
    * construction: frequencies normalize BEFORE the ratio, so the largest
    * intermediate is cnt·10⁶ (a per-token count times a million — fine
    * until a single token exceeds ~9·10¹² occurrences), never a
    * count × corpus-total product.
    *
    * Shape: one token explode over the two groups, one map-side-combined
    * (token → per-group counts) aggregation at vocabulary granularity, a
    * broadcast single-row total, then pure per-row arithmetic — no join
    * keyed on a skewed column anywhere.
    */
  def corpDrift(docs: DataFrame, groupCol: String, srcA: String,
                srcB: String): DataFrame = {
    val cnts = docs.filter(col(groupCol).isin(srcA, srcB))
      .select(col(groupCol).as("g"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(sum(when(col("g") === srcA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === srcB, 1L).otherwise(0L)).as("cb"))
    val tracked = graft.core.Caches.persistTracked(cnts)
    val tot = tracked.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    tracked.crossJoin(broadcast(tot))
      .withColumn("fa", expr("(ca * 1000000) DIV ta"))
      .withColumn("fb", expr("(cb * 1000000) DIV tb"))
      .select(expr("(((fa + 1) * 100) DIV (fb + 1)) DIV 10").as("band"))
      .groupBy("band").agg(count(lit(1)).as("n_tokens"))
  }

  /** Exact two-sample Kolmogorov–Smirnov distance between the
    * distributions of an integer metric (document length, token count,
    * quality score) in two corpus slices — the distribution-level drift
    * monitor that complements [[corpDrift]]'s vocabulary-level view (a new
    * crawl snapshot can keep its token mix while its length profile
    * collapses; this catches that). Null metric values are excluded.
    *
    * Integer-exact cross-multiplied form: D = max_v |F_a(v) − F_b(v)| is
    * reported as its numerator `ks_gap` = max_v |cumA(v)·nB − cumB(v)·nA|
    * over the common denominator nA·nB, with `at_v` the smallest value
    * attaining it — no float division crosses engines. Headroom:
    * ks_gap ≤ nA·nB, so BIGINT holds to ~3·10⁹ rows per side (loud ANSI
    * overflow past it).
    *
    * Scale shape: one map-side-combined histogram groupBy on the metric
    * value, then cumulative sums over VALUE-DOMAIN-sized data (the
    * [[discQuantiles]] contract — bucket first for continuous metrics; the
    * single-partition window is bounded by |distinct values|, never the
    * corpus), totals as unbounded sums over that SAME window (no second
    * histogram scan), and a 1-row max. Output: (ks_gap, at_v, n_a, n_b).
    */
  def ksDrift(docs: DataFrame, groupCol: String, valCol: String,
              srcA: String, srcB: String): DataFrame = {
    val hist = docs
      .filter(col(groupCol).isin(srcA, srcB) && col(valCol).isNotNull)
      .groupBy(col(valCol).cast("long").as("v"))
      .agg(sum(when(col(groupCol) === srcA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === srcB, 1L).otherwise(0L)).as("cb"))
    // Totals as unbounded sums over the SAME window the cumsums use (the
    // discQuantiles shape) — one histogram scan, no second aggregation.
    val w = Window.orderBy("v")
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .select(col("v"),
        sum("ca").over(w).as("cum_a"), sum("cb").over(w).as("cum_b"),
        sum("ca").over(wAll).as("na"), sum("cb").over(wAll).as("nb"))
      .select(col("v"),
        abs(col("cum_a") * col("nb") - col("cum_b") * col("na")).as("gap"),
        col("na"), col("nb"))
      .agg(max(struct(col("gap"), (-col("v")).as("nv"))).as("m"),
        max("na").as("n_a"), max("nb").as("n_b"))
      .select(col("m.gap").as("ks_gap"), (-col("m.nv")).as("at_v"),
        col("n_a"), col("n_b"))
      .filter(col("ks_gap").isNotNull) // empty slice pair -> 0 rows, not nulls
  }

  /** BIGRAM-surprisal banding — the conditional-probability upgrade of
    * [[surprisalBands]]: a token is surprising given its PREDECESSOR, not
    * globally, so stitched-together boilerplate (common words in uncommon
    * order) scores high where the unigram model scores it low. Integer-exact
    * like the unigram version: bigram surprisal = (scale · cnt1(w1)) div
    * cnt2(w1 w2) — the reciprocal of p(w2 | w1) — doc score = mean over its
    * bigram instances, band = score div bandDiv. Docs with < 2 tokens have
    * no bigrams and are absent. Output: (band, cnt) histogram.
    *
    * Shape for scale: ONE corpus explode into a persisted (doc, bigram)
    * count table carrying w1; bigram totals and first-word totals are two
    * map-side-combined aggregations of it, and both join back at
    * (doc, bigram) granularity — 1:1 enrich joins; the hot-first-word key
    * ("the …") is skew for the join hash but never a fan-out, and AQE's
    * skew split applies (the [[surprisalBands]] argument). Headroom: the
    * per-doc score sum is bounded by max(nbigrams_doc) · scale · max(cnt1)
    * — same ANSI-loud contract as the unigram operator.
    */
  def bigramSurprisalBands(docs: DataFrame, idCol: String,
                           scale: Long = 1000000L,
                           bandDiv: Long = 10000000L): DataFrame = {
    val dt = graft.core.Caches.persistTracked(
      graft.plans.GraftFunctions.on(docs)
        .select(col(idCol).as("doc_id"),
          explode(DedupOps.shingles(col("text"), 2)).as("s"))
      .groupBy("doc_id", "s").agg(count(lit(1)).as("c"))
      .withColumn("w1", split(col("s"), " ").getItem(0)))
    val c2 = dt.groupBy("s").agg(sum(col("c")).as("cnt2"))
    val c1 = dt.groupBy("w1").agg(sum(col("c")).as("cnt1"))
    dt.join(c2, "s").join(c1, "w1")
      .withColumn("sc", col("c") * expr(s"($scale * cnt1) DIV cnt2"))
      .groupBy("doc_id").agg(sum(col("sc")).as("score"), sum(col("c")).as("nb"))
      .select(expr(s"(score DIV nb) DIV $bandDiv").as("band"))
      .groupBy("band").agg(count(lit(1)).as("cnt"))
  }

  /** Concat-and-chunk sequence-packing bookkeeping — the pretraining data
    * layout: documents are laid out in a deterministic pseudo-shuffled order
    * into one concatenated token stream per shard, and each document's
    * context-window bin is the `budget`-token chunk its first token lands
    * in. Output per (shard, bin): n_docs, tok_sum.
    *
    * Order and shard are md5-derived from the doc id (engine-neutral, seed
    * via the salt string), so the layout is reproducible across re-runs and
    * re-partitionings — the property a training run needs to resume
    * mid-epoch.
    *
    * Scale shape — TWO-LEVEL offsets, so no task ever sorts a whole shard
    * (a `Window.partitionBy(shard)` would put each shard's full 25 GB — at
    * 100 TB over the 4096-shard cap — into ONE spill-bound sort task):
    * each shard is range-bucketed by the first two hex chars of the order
    * key (256 contiguous ranges of the per-shard sort order, since the
    * bucket is a prefix of the key), per-bucket token sums prefix-sum into
    * bucket base offsets over an nShards×256-row aggregate (driver-small,
    * broadcast back), and the running-sum window then runs WITHIN
    * (shard, bucket) only — per-task sort bounded by shard/256, ~100 MB at
    * the 100 TB worst case. The shard hash reads the LAST four hex chars
    * precisely so it shares no characters with the bucket prefix: md5
    * chars are independent, so every shard sees all 256 buckets at any
    * nShards (a shard derived from the leading chars would pin the bucket
    * chars for power-of-two nShards > 256 and collapse the 256-way split
    * to 16). Output is identical to the one-window formulation (asserted
    * in CorpusOpsSpec). Parallelism = nShards×256; determinism is
    * per-shard, which is what data-parallel training consumes anyway.
    */
  /** Value of one lowercase hex char of `h` at 1-based position `j` —
    * engine-neutral (DuckDB replays it with the same ascii arithmetic). */
  private def hexVal(h: Column, j: Int): Column = {
    val a = ascii(substring(h, j, 1))
    a - when(a >= 97, 87).otherwise(48)
  }

  def packStats(docs: DataFrame, idCol: String, nShards: Int,
                budget: Int): DataFrame = {
    require(nShards > 0 && nShards <= 4096 && budget > 0,
      s"bad nShards=$nShards (1..4096) budget=$budget")
    val ordHex = md5(concat(lit("pack:"), col(idCol).cast("string")))
    // Persisted (release via Caches.releaseAll): the
    // tokenized rows feed both the bucket-sum branch and the final window —
    // one corpus tokenization, not two.
    val t = graft.core.Caches.persistTracked(docs
      .select(col(idCol).as("doc_id"),
        coalesce(size(TextOps.tokens(col("text"))), lit(0)).as("ntok"),
        ordHex.as("ord"))
      // Shard from 16 true hash bits (the LAST 4 hex chars as a base-16
      // polynomial — disjoint from the bucket's leading-prefix chars, see
      // the scaladoc) — near-uniform for any nShards well below 2^16; a
      // 2-char ascii fold would skew or even miss shards past a few dozen.
      .withColumn("shard",
        (1 to 4).map(j => hexVal(col("ord"), 28 + j) * (1 << (4 * (4 - j))))
          .reduce(_ + _) % nShards)
      // Range bucket: the first two hex chars of the order key — a PREFIX
      // of the (ord, doc_id) sort key, so buckets are contiguous ranges of
      // the per-shard order and per-bucket offsets compose by addition.
      .withColumn("bkt", hexVal(col("ord"), 1) * 16 + hexVal(col("ord"), 2)))
    // Level 1: per-(shard, bucket) token sums, prefix-summed into the base
    // offset of each bucket. At most nShards×256 rows — the window partition
    // is one shard's ≤256 bucket rows, and the result broadcasts.
    val wB = Window.partitionBy("shard").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = t.groupBy("shard", "bkt").agg(sum(col("ntok")).as("bsum"))
      .withColumn("base", coalesce(sum(col("bsum")).over(wB), lit(0L)))
      .select(col("shard"), col("bkt"), col("base"))
    // Level 2: running sum WITHIN (shard, bucket) + the broadcast base.
    val wI = Window.partitionBy("shard", "bkt").orderBy("ord", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(bases), Seq("shard", "bkt"))
      .withColumn("off",
        col("base") + coalesce(sum(col("ntok")).over(wI), lit(0L)))
      .withColumn("bin", expr(s"off DIV $budget"))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tok_sum"))
      .select(col("shard").cast("long").as("shard"), col("bin"),
        col("n_docs"), col("tok_sum"))
  }

  /** Deterministic FIXED-SIZE per-group sample: exactly `k` documents per
    * stratum (fewer if the stratum is smaller), selected as the k smallest
    * salted content hashes — the "give me 1000 docs per source,
    * reproducibly" companion to [[stratifiedSample]]'s rate-based gate.
    * Content-keyed like the rest of the sampling family: membership is a
    * pure function of (salt, text) relative to the stratum, so re-runs and
    * re-partitionings pick the identical rows. Output: (groupCol, doc id,
    * rnk 1..k).
    *
    * Scale shape: `row_number <= k` over (group, hash) is exactly the
    * pattern Spark rewrites to WindowGroupLimit — each map task keeps only
    * its local top-k per group BEFORE the shuffle, so the exchange carries
    * ≤ k rows per group per input partition, never the stratum. No
    * corpus-sized sort exists.
    */
  def groupTopK(docs: DataFrame, idCol: String, groupCol: String, k: Int,
                salt: String = "topk:"): DataFrame = {
    require(k >= 1, s"groupTopK needs k >= 1: k=$k")
    val w = Window.partitionBy(groupCol)
      .orderBy(md5(concat(lit(salt), col("text"))), col(idCol))
    docs
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(groupCol), col(idCol), col("rnk").cast("long").as("rnk"))
  }

  /** Salted content-hash bucket in [0, 100) — [[TextOps.hashBucketCol]]'s
    * fold over `md5(salt ‖ text)`, so sampling decisions are independent of
    * the train/val/test split buckets (an unsalted reuse would make every
    * sample a deterministic subset of `train`). */
  def sampleBucketCol(text: Column, salt: String): Column = {
    val h = md5(concat(lit(salt), text))
    (ascii(substring(h, 1, 1)) * 59 +
      ascii(substring(h, 2, 1)) * 17 +
      ascii(substring(h, 3, 1))) % 100
  }

  /** Deterministic stratified sample: keep a document iff its salted
    * content-hash bucket falls below its stratum's percentage (`rates`
    * overrides per stratum value, `defaultPct` otherwise — rate 0 excludes
    * a stratum entirely; source rebalancing in one pass).
    *
    * Content-keyed like [[TextOps.splitCol]]: a doc's fate is a pure
    * function of (salt, text), so the sample is identical under any
    * re-partitioning, re-sharding, or re-run, and sampling a union equals
    * the union of samples — none of which holds for `df.sample`'s
    * partition-seeded RNG. Pure per-row expression: no shuffle, no RNG
    * state; the filter runs whole-stage-codegen'd in the scan stage (an
    * md5 expression cannot push into parquet row-group pruning — no
    * content-hash filter can).
    */
  def stratifiedSample(docs: DataFrame, strataCol: String,
                       rates: Map[String, Int], defaultPct: Int,
                       salt: String = "sample:"): DataFrame = {
    require(defaultPct >= 0 && defaultPct <= 100 &&
      rates.values.forall(r => r >= 0 && r <= 100),
      s"sample percentages out of range: $rates default=$defaultPct")
    // Sorted fold for a deterministic plan regardless of Map iteration order.
    val pct = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPct): Column) {
      case (acc, (s, r)) => when(col(strataCol) === s, lit(r)).otherwise(acc)
    }
    docs.filter(sampleBucketCol(col("text"), salt) < pct)
  }

  /** Deterministic hash draw in [1, ~2.9e9]: base-31 ascii fold over the
    * first six md5 hex chars — the content-hash family's engine-neutral
    * integer recipe widened from 3 to 6 chars for priority-resolution
    * entropy (ascii + md5-hex text agree across engines; no engine-native
    * int-parsing involved). */
  def hashDrawCol(text: Column, salt: String): Column = {
    val h = md5(concat(lit(salt), text))
    (1 to 6).map(i => ascii(substring(h, i, 1)).cast("long"))
      .reduce((a, b) => a * 31L + b)
  }

  /** Deterministic GLOBAL TRAINING-ORDER SHUFFLE: every row gets its exact
    * 0-based position under a seeded pseudo-random total order — the
    * reproducible corpus permutation a training run consumes (same salt →
    * same order on any cluster, any partitioning, any engine). The order
    * is (bucket, draw, id): bucket = first md5 byte of the salted id,
    * draw = [[hashDrawCol]] over the salted id, id as the final
    * tie-break — a pure function of (salt, id), nothing positional.
    *
    * Scale shape (the reason this is NOT `row_number() OVER (ORDER BY
    * hash)`, whose empty-over window moves the whole corpus through ONE
    * task): ranks are two-level — per-bucket `row_number` windows whose
    * partitions are ~n/256 each (the md5 byte is uniform), plus a
    * 256-row bucket-offset table (cumulative counts over the VALUE-SPACE-
    * bounded bucket domain — the [[discQuantiles]] pattern) broadcast
    * back. One shuffle by bucket, bounded window memory, no global sort,
    * no driver state. Output: (doc_id, shuffle_rank). */
  def shuffleRank(df: DataFrame, idCol: String, salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sid = col(idCol).cast("string")
    val keyed = df.select(col(idCol).as("doc_id"),
      conv(substring(md5(concat(lit(salt), sid)), 1, 2), 16, 10)
        .cast("long").as("bkt"),
      hashDrawCol(sid, salt).as("h"))
    val offsets = keyed.groupBy("bkt").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(
        Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    keyed.join(broadcast(offsets), "bkt")
      .withColumn("rin", row_number().over(
        Window.partitionBy("bkt").orderBy(col("h"), col("doc_id"))))
      .select(col("doc_id"),
        (col("off") + col("rin") - 1).cast("long").as("shuffle_rank"))
  }

  /** Weighted sample without replacement via PRIORITY SAMPLING
    * (Duffield–Lund–Thorup): each doc draws a deterministic uniform hash
    * h and gets priority w / h; the k largest priorities are the sample —
    * inclusion probability rises with weight, membership is a pure
    * function of (salt, text, weight), reproducible under any
    * re-partitioning. Weight here = `n_chars` (longer docs likelier — the
    * token-budget-proportional draw a corpus mixer uses). Output:
    * (doc id, w).
    *
    * Both w and h are exactly-representable integers, so the double
    * quotient w/h is correctly rounded IEEE-754 in any engine — the
    * ordering (and therefore the selected SET, the only thing the gate
    * hashes) is engine-exact; ties break by doc id.
    *
    * Scale shape: pure per-row expressions then a global top-k =
    * TakeOrderedAndProject — per-partition top-k, k rows per partition to
    * the driver merge. No global sort, no window over one partition. */
  def prioritySample(docs: DataFrame, idCol: String, k: Int,
                     salt: String = "prio:"): DataFrame = {
    require(k >= 1, s"prioritySample needs k >= 1: k=$k")
    docs
      .select(col(idCol), col("n_chars").as("w"),
        (col("n_chars").cast("double") /
          hashDrawCol(col("text"), salt).cast("double")).as("prio"))
      .orderBy(col("prio").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("w"))
  }

  /** Count-min bucket of a token under sketch row `r`: 16 bits of the
    * salted md5 (hex chars 29–32 — disjoint salts make the rows
    * independent) folded mod `width`. Engine-neutral: DuckDB replays the
    * same four hex chars with per-char arithmetic. */
  private def cmsBucketCol(t: Column, r: Int, width: Int): Column =
    (conv(substring(md5(concat(lit(s"cms$r:"), t)), 29, 4), 16, 10)
      .cast("int") % width)

  /** Token occurrence stream (one row per token, multiplicity kept). */
  private def tokenStream(docs: DataFrame): DataFrame =
    docs.select(explode(split(coalesce(col("text"), lit("")), " ")).as("t"))

  /** COUNT-MIN SKETCH of the corpus token stream: `depth` independent
    * hash rows × `width` buckets of exact occurrence counts — the
    * bounded-state frequency summary that answers "how often does token t
    * appear?" with a one-sided error (estimate = min over rows of t's
    * bucket counts ≥ truth, overshoot ≤ εN with probability 1−δ at
    * width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉). This is the mergeable sketch a
    * streaming/partitioned pipeline keeps where the exact vocabulary
    * would be billions of keys: sketch state is depth × width cells
    * REGARDLESS of corpus size.
    *
    * Output: (r, bucket, cnt) — the sketch matrix itself.
    *
    * Scale shape: one token scan; each occurrence fans out into `depth`
    * (row, bucket) cells that partial-aggregate map-side, so the shuffle
    * carries at most depth × width rows per map task. Union-merging two
    * corpora's sketches is cell-wise addition of this output. */
  def cmSketch(docs: DataFrame, depth: Int = 3, width: Int = 256): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth out of range: $depth")
    require(width >= 2 && width <= 65536, s"width out of range: $width")
    tokenStream(docs)
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), cmsBucketCol(col("t"), r, width).as("bucket"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Count-min point queries for the `k` highest-frequency tokens:
    * (token, true_cnt, est_cnt) with est = min over sketch rows of the
    * token's bucket count — always ≥ true_cnt, equal when none of the
    * token's `depth` buckets collides with other mass. Gating the
    * ESTIMATES (not just the sketch) hashes the whole build + probe
    * chain, including the overshoot the collisions actually produce on
    * this corpus.
    *
    * Scale shape: the sketch (depth × width rows) broadcasts to the probe
    * join; the probe set is k tokens from a TakeOrdered top-k (no global
    * sort). The exact top-k here is corpus-derived for the gate; a pure
    * sketch deployment would probe its candidate stream instead. */
  def cmsHeavyEstimates(docs: DataFrame, depth: Int = 3, width: Int = 256,
                        k: Int = 20): DataFrame = {
    require(k >= 1, s"k out of range: $k")
    val cells = cmSketch(docs, depth, width)
    val probe = tokenStream(docs)
      .groupBy("t").agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("t"))
      .limit(k)
    probe
      .select(col("t"), col("true_cnt"),
        explode(array((0 until depth).map(r =>
          struct(lit(r).as("r"), cmsBucketCol(col("t"), r, width).as("bucket"))): _*)).as("rb"))
      .join(broadcast(cells),
        col("rb.r") === cells("r") && col("rb.bucket") === cells("bucket"))
      .groupBy(col("t").as("token"), col("true_cnt"))
      .agg(min(col("cnt")).as("est_cnt"))
  }

  /** Token-budget MIXTURE ALLOCATION: apportion a global token `budget`
    * across the values of `groupCol` proportionally to each group's token
    * mass — the data-mixture design step that turns "2B tokens, weighted
    * like the corpus" into exact per-source draw sizes feeding
    * [[stratifiedSample]] / [[prioritySample]] rates.
    *
    * Hamilton (largest-remainder) apportionment, integer-exact: each
    * group gets floor(budget·tokens/total), and the leftover
    * budget − Σ floors (< #groups by construction) goes to the largest
    * remainders, ties broken by group name — so Σ alloc == budget always,
    * bit-for-bit in any engine. Groups are weighted by their share of the
    * corpus; a budget above the corpus total simply up-scales every group
    * proportionally (the caller caps at availability if sampling without
    * replacement).
    *
    * Scale shape: one partial-aggregated scan to the per-group token
    * table; everything after (total, remainder ranking) operates on
    * #groups rows — the remainder window is a deliberate
    * single-partition sort over GROUP-count rows, never corpus rows.
    * Output: (grp, n_tokens, alloc). */
  def tokenBudgetAlloc(docs: DataFrame, groupCol: String,
                       budget: Long): DataFrame = {
    require(budget >= 0, s"negative budget: $budget")
    val perGroup = docs
      .groupBy(col(groupCol).as("grp"))
      .agg(sum(size(filter(TextOps.tokens(coalesce(col("text"), lit(""))),
        t => length(t) > 0))).as("n_tokens"))
    val tot = perGroup.agg(sum("n_tokens").as("t_total"))
    val based = perGroup.crossJoin(broadcast(tot))
      .select(col("grp"), col("n_tokens"),
        expr(s"(${budget}L * n_tokens) div t_total").as("base"),
        expr(s"(${budget}L * n_tokens) % t_total").as("rem"))
    val extra = based.agg((lit(budget) - sum("base")).as("extra"))
    based.crossJoin(broadcast(extra))
      .withColumn("_rr", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rem").desc, col("grp"))))
      .select(col("grp"), col("n_tokens"),
        (col("base") + when(col("_rr") <= col("extra"), 1L).otherwise(0L))
          .as("alloc"))
  }

  /** PMI-style COLLOCATION mining: token pairs that co-occur in the same
    * document far more often than their independent document frequencies
    * predict — the phrase/topic-structure readout (and the candidate list
    * for multi-token vocabulary entries). Association strength is the
    * integer-floor LIFT in milli-units,
    *
    *   lift‰(a,b) = (1000 · n_ab · N) div (df_a · df_b)
    *
    * (PMI = log lift; the log is monotone, so integer lift ranks
    * identically and stays engine-exact). Document-level co-occurrence
    * over DISTINCT (doc, token) pairs; tokens below `minDf` docs and
    * pairs below `minPair` co-occurrences are dropped — the support
    * floor every collocation miner applies.
    *
    * Scale shape: the pair join is per-document (equi-join on the doc id,
    * t_a < t_b), so fanout is Σ_d C(v_d, 2) with v_d capped by the
    * df-filtered vocabulary each doc touches — at production scale the
    * vocabulary filter (top-V by df) is the knob bounding the pair space;
    * nothing here is quadratic in docs. The df table is vocabulary-sized
    * and broadcasts into both the filter and the lift join.
    *
    * CORPUS-SIZE ENVELOPE: the lift numerator 1000 · n_pair · N is BIGINT
    * and n_pair ≤ N, so it stays under 2^63 only while N ≤ ~9.6·10⁷ docs
    * — enforced by a `require` below (a silent wrap would rank garbage;
    * the same expression runs in the DuckDB oracle, which would not catch
    * it). Past that, callers shard the corpus or move the numerator to
    * DECIMAL(38,0); the floor-division ranking is unchanged either way.
    * Output: (ta, tb, n_pair, df_a, df_b, lift_milli). */
  def liftPairs(docs: DataFrame, idCol: String, minDf: Long,
                minPair: Long): DataFrame = {
    require(minDf >= 1 && minPair >= 1, s"bad support floors: $minDf/$minPair")
    val toks = graft.core.Caches.persistTracked(
      docs.select(col(idCol).as("id"),
          explode(split(coalesce(col("text"), lit("")), " ")).as("t"))
        .distinct())
    val nDocs = docs.select(col(idCol)).distinct().count()
    // Worst case n_pair = nDocs ⇒ 1000·nDocs² must stay under 2^63 (see
    // the corpus-size envelope in the scaladoc).
    require(nDocs <= 96000000L,
      s"liftPairs BIGINT lift envelope exceeded: $nDocs docs > 9.6e7 — " +
        "shard the corpus or switch the numerator to DECIMAL(38,0)")
    val dfT = graft.core.Caches.persistTracked(
      toks.groupBy("t").agg(count(lit(1)).as("df"))
        .filter(col("df") >= minDf))
    val vt = toks.join(broadcast(dfT.select("t")), "t")
    val pairs = vt.select(col("id"), col("t").as("ta"))
      .join(vt.select(col("id"), col("t").as("tb")), "id")
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPair)
    pairs
      .join(broadcast(dfT.select(col("t").as("ta"), col("df").as("df_a"))), "ta")
      .join(broadcast(dfT.select(col("t").as("tb"), col("df").as("df_b"))), "tb")
      .select(col("ta"), col("tb"), col("n_pair"), col("df_a"), col("df_b"),
        expr(s"(1000 * n_pair * ${nDocs}L) div (df_a * df_b)").as("lift_milli"))
  }

  /** ⌊log₂ x⌋ of a positive integer column via bit length — the same
    * engine-neutral quantized logarithm as [[ModelOps]]' naive Bayes
    * (`length(bin(x)) − 1`: both Spark and DuckDB print BIGINT binary
    * without leading zeros, so no float `ln` ulp drift either side). */
  private def qlog2(x: Column): Column =
    (length(bin(x)) - 1).cast("long")

  /** DSIR-style importance scores: rank every document by how much more
    * likely its hashed-unigram bag is under a TARGET distribution than
    * under the RAW corpus distribution — the importance-resampling
    * data-selection signal ("keep web text that looks like the curated
    * target domain"). Token features hash into `buckets` cells (md5 fold
    * — vocabulary-independent bounded state, the DSIR trick), both
    * distributions are Laplace-smoothed bucket frequencies, and the
    * per-doc log-ratio score is quantized to BITS via ⌊log₂⌋ so the whole
    * model — counts, smoothing, quotients, every doc's score — replays in
    * a SQL oracle with zero float drift:
    *
    *   score(doc) = Σ_{tokens} ( rbits(b) − tbits(b) ),
    *   xbits(b)   = ⌊log₂( (X + buckets) · scale div (cnt_x(b) + 1) )⌋
    *
    * (xbits is quantized SURPRISAL under distribution x, so raw-surprising
    * but target-likely tokens push the score up; the X-total constants
    * shift every token of a side equally and cancel in ranking).
    *
    * Output: one row per doc (id, grp, n_toks, score) — the selection
    * readout joins/filters on `score` downstream.
    *
    * Scale shape: one token scan fans into (doc, bucket) rows that
    * partial-aggregate map-side; the weight table is `buckets` rows —
    * model-sized, broadcast into the scoring join. Nothing keyed on the
    * vocabulary, nothing collected to the driver. */
  def importanceScores(docs: DataFrame, idCol: String, groupCol: String,
                       targetPred: Column, buckets: Int = 256,
                       scale: Long = 65536L): DataFrame = {
    require(buckets >= 2 && buckets <= 65536, s"buckets out of range: $buckets")
    val toks = graft.core.Caches.persistTracked(
      docs.select(col(idCol).as("id"), col(groupCol).as("grp"),
          targetPred.cast("boolean").as("is_t"),
          explode(split(coalesce(col("text"), lit("")), " ")).as("t"))
        .select(col("id"), col("grp"), col("is_t"),
          (conv(substring(md5(concat(lit("dsir:"), col("t"))), 29, 4), 16, 10)
            .cast("int") % buckets).as("b")))
    val cnts = toks.groupBy("b").agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("tc"),
      sum(when(col("is_t"), 0L).otherwise(1L)).as("rc"))
    val totals = cnts.agg(sum("tc").as("tt"), sum("rc").as("rt"))
    // Full bucket domain (empty cells still carry the +1 smoothing mass).
    val dom = docs.sparkSession.range(buckets).select(col("id").cast("int").as("b"))
    val weights = dom
      .join(cnts, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        qlog2(expr(s"((tt + $buckets) * ${scale}L) div (coalesce(tc, 0L) + 1)"))
          .as("tbits"),
        qlog2(expr(s"((rt + $buckets) * ${scale}L) div (coalesce(rc, 0L) + 1)"))
          .as("rbits"))
    toks
      .join(broadcast(weights), "b")
      .groupBy("id", "grp")
      .agg(count(lit(1)).as("n_toks"),
        sum(col("rbits") - col("tbits")).as("score"))
  }
}
