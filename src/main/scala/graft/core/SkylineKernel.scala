package graft.core

import scala.collection.mutable.ArrayBuffer

/** Skyline (Pareto frontier / maximal vector) kernels.
  *
  * Algorithms:
  *
  *   - [[skylineCounted]] / [[skylineOf]] for d ≥ 4 — sort-filter-skyline
  *     (SFS, Chomicki et al., ICDE'03): sort by coordinate sum ascending,
  *     then a single forward pass. Because domination implies a STRICTLY
  *     smaller coordinate sum, a candidate can only be dominated by an
  *     already-accepted point with a smaller sum, so (a) accepted points
  *     are never evicted and (b) the dominance scan stops at the first
  *     accepted point whose sum reaches the candidate's (equal-sum points
  *     never dominate each other). Duplicates are collapsed to
  *     (point, multiplicity) pairs — equal points sort adjacent under the
  *     (sum, lexicographic) order, so the merge is free — which is what
  *     keeps the kernel LINEAR-ish on duplicate-heavy inputs: the
  *     reference's anti-correlated integer workload puts a large fraction
  *     of rows ON the frontier as exact copies, and a multiset buffer made
  *     every copy a full BNL scan (quadratic in input, observed as a
  *     half-hour single task at 1M×2D); the counted buffer is quadratic
  *     only in DISTINCT frontier points, which the integer domain bounds.
  *
  *   - [[skylineCounted]] for d ≤ 3 — LEXICOGRAPHIC sweep with a Pareto
  *     staircase: a dominator is lexicographically strictly smaller than
  *     what it dominates (≤ in every coordinate, < in one), so processing
  *     in lex order also never evicts, and "is the candidate dominated?"
  *     becomes a staircase query over the trailing two coordinates —
  *     O(log f) per distinct point instead of the SFS sum-prefix scan,
  *     which degenerates to O(f) per SURVIVOR on anti-correlated data
  *     (sums concentrate in a narrow band exactly where frontiers are
  *     big, and ~99% of candidates survive, so there is no early exit to
  *     save the scan). This is the regime the reference's own blow-up
  *     experiments live in: the 3D×10M frontier is 135k distinct points,
  *     where f² scans cost minutes and the staircase costs the sort.
  *
  *   - [[insert]] — incremental block-nested-loop (BNL) insert, the
  *     reference's streaming-state update (reference:
  *     `java/org.main/FlinkSkyline.java:417-444`): drop a dominated
  *     candidate, evict incumbents the candidate dominates, else append.
  *     The reference-parity primitive; the streaming state functions now
  *     hold [[SkyBuffer]]s instead (same multiset result, duplicate- and
  *     distinct-bounded cost), so this remains for small frontiers and
  *     as the executable spec of the reference's update rule.
  *
  * All preserve duplicates of skyline points (equal vectors never dominate —
  * SURVEY §1.2) and are insensitive to input order in their final result,
  * which is a MULTISET: output order (sum-ascending for d ≥ 4, lex for
  * d ≤ 3) is an implementation detail callers must not rely on, beyond
  * equal points being adjacent.
  */
object SkylineKernel {

  /** SFS over a counted multiset: `counts(i)` copies of `points(i)`.
    * Returns the skyline in the same counted form, sum-ascending with
    * equal points merged. The workhorse behind [[SkyBuffer]]. */
  def skylineCounted(points: ArrayBuffer[Array[Double]], counts: ArrayBuffer[Long])
      : (ArrayBuffer[Array[Double]], ArrayBuffer[Long]) = {
    val (p, _, c) = skylineCountedTagged(points,
      ArrayBuffer.fill(points.length)(0), counts)
    (p, c)
  }

  /** [[skylineCounted]] with an opaque Int tag riding on every entry
    * (origin-partition lineage in the MR statistics merge — reference
    * `FlinkSkyline.java:593-608`): dominance ignores the tag, equal points
    * with DIFFERENT tags stay separate entries (equal vectors never
    * dominate, so both survive), and only (point, tag)-equal entries merge
    * their counts. This is what lets the global merge run over counted
    * local skylines — quadratic in DISTINCT (point, origin) entries, not
    * in the duplicate-heavy expanded multiset. */
  def skylineCountedTagged(points: ArrayBuffer[Array[Double]],
                           tags: ArrayBuffer[Int], counts: ArrayBuffer[Long])
      : (ArrayBuffer[Array[Double]], ArrayBuffer[Int], ArrayBuffer[Long]) = {
    val n = points.length
    if (n == 0) return (points.clone(), tags.clone(), counts.clone())
    // Lex-staircase fast path for d <= 3, but only on NaN-free input: the
    // reference comparator treats a NaN coordinate as a wildcard (IEEE >
    // and < are both false, so it neither blocks domination nor confers
    // strictness), under which NaN points can both dominate and be
    // dominated — a non-lattice relation that ALSO breaks sum-monotonicity
    // (a NaN-sum dominator sorts after its victim), so NaN-bearing inputs
    // have legacy best-effort semantics on the SFS path (fixture-pinned),
    // not a brute-force guarantee. The data plane never produces NaN; this
    // gate exists so exotic inputs keep their historical behavior
    // bit-for-bit rather than silently changing shape.
    if (points(0).length <= 3 && !points.exists(hasNaN))
      return skylineCountedTaggedLex(points, tags, counts)
    // Sort key (rank, sum), a linear extension of dominance off NaN: rank
    // is the count of +Infinity coordinates minus the count of -Infinity
    // ones, sum the sum of the finite coordinates. A dominator's rank is
    // <= the candidate's, and at equal rank both hold their infinities at
    // the same positions, so its finite sum is <= the candidate's. (A plain
    // coordinate sum is NaN for a point holding both infinities, which
    // sorted it after the points it dominates.) NaN-bearing points rank
    // last with a NaN sum, as they always sorted.
    val ranks = new Array[Int](n)
    val sums = new Array[Double](n)
    var i = 0
    while (i < n) {
      val p = points(i)
      var r = 0
      var sum = 0.0
      var k = 0
      while (k < p.length) {
        val v = p(k)
        if (v == Double.PositiveInfinity) r += 1
        else if (v == Double.NegativeInfinity) r -= 1
        else sum += v
        k += 1
      }
      if (sum.isNaN) { ranks(i) = Int.MaxValue; sums(i) = Double.NaN }
      else { ranks(i) = r; sums(i) = sum }
      i += 1
    }
    def keyCompare(ra: Int, sa: Double, rb: Int, sb: Double): Int =
      if (ra != rb) Integer.compare(ra, rb) else java.lang.Double.compare(sa, sb)
    // (rank, sum asc, coords lexicographic, tag) — equal (point, tag)
    // entries become adjacent. All comparisons via Double.compare: a TOTAL
    // order (NaN sorts last, consistently), so sortWith's strict-weak-order
    // contract holds for any input — a plain `<` comparator violates it
    // under NaN and TimSort may throw mid-aggregation.
    val order = points.indices.toArray.sortWith { (a, b) =>
      val c = keyCompare(ranks(a), sums(a), ranks(b), sums(b))
      if (c != 0) c < 0
      else {
        val pa = points(a); val pb = points(b)
        var k = 0
        var r = 0
        while (r == 0 && k < pa.length) {
          r = java.lang.Double.compare(pa(k), pb(k)); k += 1
        }
        if (r != 0) r < 0 else tags(a) < tags(b)
      }
    }
    val accP = new ArrayBuffer[Array[Double]](math.min(64, n))
    val accT = new ArrayBuffer[Int](math.min(64, n))
    val accC = new ArrayBuffer[Long](math.min(64, n))
    val accR = new ArrayBuffer[Int](math.min(64, n))
    val accS = new ArrayBuffer[Double](math.min(64, n))
    var s = 0
    while (s < order.length) {
      val id = order(s)
      val p = points(id)
      val pr = ranks(id)
      val ps = sums(id)
      // Copies of the last SURVIVOR merge without a scan (adjacency);
      // copies of a dominated point fail this check and get re-scanned —
      // each distinct dominated point still costs only one scan group.
      if (accP.nonEmpty &&
          keyCompare(accR(accP.length - 1), accS(accP.length - 1), pr, ps) == 0 &&
          accT(accT.length - 1) == tags(id) &&
          java.util.Arrays.equals(accP(accP.length - 1), p)) {
        accC(accC.length - 1) += counts(id)
      } else {
        var dominated = false
        var j = 0
        // At equal rank a dominator's EXACT finite sum is strictly
        // smaller, and left-to-right double summation is monotone per
        // coordinate, so its COMPUTED sum is <= the candidate's — possibly
        // EQUAL under rounding (1e16-magnitude coords). The scan therefore
        // covers the equal-key group too and stops only at the first
        // accepted key strictly greater (the sort's own total order —
        // NaN-bearing points just scan everything, which is correct and
        // rare). Exact ties (same true sum) cannot dominate, so
        // integer-band data pays only the group scan, not a lost
        // early-exit.
        while (j < accP.length && keyCompare(accR(j), accS(j), pr, ps) <= 0
            && !dominated) {
          if (Dominance.dominates(accP(j), p)) dominated = true
          j += 1
        }
        if (!dominated) {
          accP += p; accT += tags(id); accC += counts(id); accR += pr; accS += ps
        }
      }
      s += 1
    }
    (accP, accT, accC)
  }

  /** The surviving multiplicity per tag of [[skylineCountedTagged]] —
    * the MR optimality numerator (rows of each origin partition on the
    * global skyline, reference `FlinkSkyline.java:593-608`; tags with no
    * survivor are absent). Read by [[graft.functions.SkyStatsBuffer.stats]],
    * which both the batch `skyline_stats` aggregate and the streaming
    * global latch use, so both count survivors under the same rule: equal
    * points with different tags all survive, each under its own tag. */
  def mergeTagged(points: ArrayBuffer[Array[Double]], tags: ArrayBuffer[Int],
                  counts: ArrayBuffer[Long]): Map[Int, Long] = {
    val (_, t, c) = skylineCountedTagged(points, tags, counts)
    val surv = scala.collection.mutable.HashMap.empty[Int, Long]
    var i = 0
    while (i < t.length) {
      surv(t(i)) = surv.getOrElse(t(i), 0L) + c(i)
      i += 1
    }
    surv.toMap
  }

  /** d ≤ 3 staircase sweep (see the object scaladoc). Processing order is
    * (coords lex, tag) via Double.compare — a total order, NaN last. A
    * dominator is lex-strictly-smaller, so accepted entries are final and
    * every accepted point q has q.x ≤ candidate.x. The candidate is
    * dominated iff some accepted q covers its trailing coordinates
    * (q.y ≤ y, q.z ≤ z) and is not the exact equal point:
    *
    *   - staircase = TreeMap y → z over accepted (y, z) pairs, z strictly
    *     decreasing in y (Pareto-minimal pairs), so `floorEntry(y).z` IS
    *     min z among accepted with y' ≤ y;
    *   - floor.z < z  → dominated (z-strict cover);
    *   - floor.z == z → dominated if the floor sits at y' < y (y-strict
    *     cover; an exact-(y, z) accepted at a SMALLER y' cannot coexist
    *     with one at y — the earlier would have dominated the later), else
    *     dominated iff the first accepted with exactly (y, z) has a
    *     strictly smaller x (`firstX`; equal x = the equal point, possibly
    *     under another tag — never a dominator);
    *   - floor.z > z or no floor → not dominated.
    *
    * Input is NaN-free by the caller's gate (NaN's wildcard comparator
    * semantics route to the SFS path). */
  private def skylineCountedTaggedLex(points: ArrayBuffer[Array[Double]],
                                      tags: ArrayBuffer[Int], counts: ArrayBuffer[Long])
      : (ArrayBuffer[Array[Double]], ArrayBuffer[Int], ArrayBuffer[Long]) = {
    val n = points.length
    // -0.0 → 0.0 before EVERY ordered comparison: dominance is IEEE (where
    // the two zeros are equal) but Double.compare is bitwise-ordered (where
    // -0.0 < 0.0) — an uncanonicalized sort can place a victim carrying
    // -0.0 BEFORE its 0.0-carrying dominator, breaking the no-eviction
    // property the sweep rests on. Raw bits are the FINAL tiebreak so
    // bit-identical (point, tag) copies still sort adjacent for the merge.
    def canon(v: Double): Double = if (v == 0.0) 0.0 else v
    val order = points.indices.toArray.sortWith { (a, b) =>
      val pa = points(a); val pb = points(b)
      var k = 0
      var r = 0
      while (r == 0 && k < pa.length) {
        r = java.lang.Double.compare(canon(pa(k)), canon(pb(k))); k += 1
      }
      if (r != 0) r < 0
      else if (tags(a) != tags(b)) tags(a) < tags(b)
      else {
        var k2 = 0
        var r2 = 0
        while (r2 == 0 && k2 < pa.length) {
          r2 = java.lang.Long.compare(
            java.lang.Double.doubleToLongBits(pa(k2)),
            java.lang.Double.doubleToLongBits(pb(k2)))
          k2 += 1
        }
        r2 < 0
      }
    }
    val accP = new ArrayBuffer[Array[Double]](math.min(64, n))
    val accT = new ArrayBuffer[Int](math.min(64, n))
    val accC = new ArrayBuffer[Long](math.min(64, n))
    val stair = new java.util.TreeMap[java.lang.Double, java.lang.Double]()
    val firstX = new java.util.HashMap[(Double, Double), Double]()
    // Staircase/map coordinates are canonicalized for the same reason as
    // the sort: a -0.0 TreeMap/tuple key would shadow the 0.0 tie lookup
    // and misclassify IEEE-equal points.
    def yOf(p: Array[Double]): Double = if (p.length > 1) canon(p(1)) else 0.0
    def zOf(p: Array[Double]): Double = if (p.length > 2) canon(p(2)) else 0.0
    var s = 0
    while (s < order.length) {
      val id = order(s)
      val p = points(id)
      if (accP.nonEmpty && accT(accT.length - 1) == tags(id) &&
          java.util.Arrays.equals(accP(accP.length - 1), p)) {
        accC(accC.length - 1) += counts(id)
      } else {
        val py = yOf(p); val pz = zOf(p)
        val fe = stair.floorEntry(py)
        val dominated =
          if (fe == null) false
          else if (fe.getValue < pz) true
          else if (fe.getValue == pz) {
            if (fe.getKey < py) true
            else firstX.get((py, pz)) < canon(p(0))
          } else false
        if (!dominated) {
          accP += p; accT += tags(id); accC += counts(id)
          if (!firstX.containsKey((py, pz))) firstX.put((py, pz), canon(p(0)))
          val cur = stair.floorEntry(py)
          if (cur == null || cur.getValue > pz) {
            // Drop entries this one covers: keys ≥ py hold z values that
            // strictly decrease, so removal stops at the first z < pz.
            val it = stair.tailMap(py, true).entrySet().iterator()
            var go = true
            while (go && it.hasNext) {
              if (it.next().getValue >= pz) it.remove() else go = false
            }
            stair.put(py, pz)
          }
        }
      }
      s += 1
    }
    (accP, accT, accC)
  }

  /** Any coordinate NaN? (Routes to the SFS path — see the fast-path gate —
    * and past [[SkyBuffer]]'s elimination filter.) */
  private[core] def hasNaN(p: Array[Double]): Boolean = {
    var i = 0
    while (i < p.length) { if (p(i).isNaN) return true; i += 1 }
    false
  }

  /** Re-expand a counted skyline to its flat multiset form. */
  def expand(points: ArrayBuffer[Array[Double]], counts: ArrayBuffer[Long])
      : ArrayBuffer[Array[Double]] = {
    val out = new ArrayBuffer[Array[Double]](points.length)
    var i = 0
    while (i < points.length) {
      var c = counts(i)
      while (c > 0) { out += points(i); c -= 1 }
      i += 1
    }
    out
  }

  /** Exact skyline of a batch of points via SFS, duplicates retained.
    * Output order is sum-ascending (callers that care about order must
    * sort themselves; the skyline is a multiset). */
  def skylineOf(points: ArrayBuffer[Array[Double]]): ArrayBuffer[Array[Double]] = {
    if (points.length <= 1) return points.clone()
    val (p, c) = skylineCounted(points, ArrayBuffer.fill(points.length)(1L))
    expand(p, c)
  }

  /** Incremental BNL insert of `p` into skyline `buf` (mutated in place).
    * Returns true iff `p` survived (was appended).
    */
  def insert(buf: ArrayBuffer[Array[Double]], p: Array[Double]): Boolean = {
    var i = 0
    while (i < buf.length) {
      if (Dominance.dominates(buf(i), p)) return false
      i += 1
    }
    // p survives: evict incumbents it dominates
    var w = 0
    i = 0
    while (i < buf.length) {
      if (!Dominance.dominates(p, buf(i))) {
        if (w != i) buf(w) = buf(i)
        w += 1
      }
      i += 1
    }
    buf.dropRightInPlace(buf.length - w)
    buf += p
    true
  }

  /** Merge two skylines (the aggregate `merge` phase). Concatenate + SFS —
    * exact for arbitrary inputs, not just valid skylines.
    */
  def merge(a: ArrayBuffer[Array[Double]], b: ArrayBuffer[Array[Double]]): ArrayBuffer[Array[Double]] =
    skylineOf(a ++ b)
}

/** Mutable aggregation buffer for the skyline aggregates.
  *
  * Holds a COUNTED multiset — (point, multiplicity) pairs — and compacts to
  * the running skyline once the entry count doubles past the last
  * compaction result (amortized O(log) compaction passes, each SFS). This
  * keeps per-row `add` cost at an append, bounds memory at
  * O(2·s_distinct + threshold) entries, and makes duplicate-heavy inputs
  * (the anti-correlated integer worst case) cost one entry per DISTINCT
  * point instead of one per row. [[result]] re-expands multiplicities, so
  * the aggregate's output multiset — duplicates of frontier points all
  * present — is unchanged by the representation.
  *
  * Elimination filter (the EF window of LESS, Godfrey, Shipley & Gryz,
  * VLDB 2005): each [[compact]] keeps its [[SkyBuffer.WindowSize]]
  * lowest-coordinate-sum NaN-free survivors, and [[add]] drops a NaN-free
  * point that one of them dominates instead of appending it. Off NaN,
  * dominance is a strict partial order, so a dropped point is dominated by
  * an entry of the multiset (or, transitively, by that entry's dominator)
  * and can never be on the skyline. A dropped add still counts toward
  * `compactAt` ([[skipped]]), so compactions run exactly when they would
  * without the filter, and each compaction returns exactly what it would
  * have: NaN-bearing points bypass the filter and keep the legacy SFS
  * semantics bit for bit.
  *
  * The native aggregates ([[graft.functions.SkylineAggExpr]],
  * [[graft.functions.SkylineStatsExpr]]) keep buffers as live objects
  * within a task and ship them across the partial→final shuffle in their
  * own binary format ([[graft.functions.SkyBufferFormat]]: the counted
  * entries, `compactAt` and [[skipped]]). `absorb` merges lazily —
  * concatenate counted entries, compact only past the threshold — so an
  * N-way merge costs O(log) SFS passes, not N (mirroring the reference's
  * MR local-phase output, `FlinkSkyline.java:396-403`).
  */
final class SkyBuffer(
    var points: ArrayBuffer[Array[Double]],
    var counts: ArrayBuffer[Long],
    var compactAt: Int
) extends Serializable {
  def this() = this(new ArrayBuffer[Array[Double]], new ArrayBuffer[Long],
    SkyBuffer.MinCompact)

  /** Adds since the last compaction that the filter dropped; they count
    * toward `compactAt` as if appended. Transient, like the window, so the
    * streaming state's Kryo layout of this class is unchanged; the
    * aggregates' binary format carries it. */
  @transient var skipped: Int = 0

  // The filter's window, rebuilt by every compaction; empty before the
  // first one. Java deserialization leaves it null.
  @transient private var window: Array[Array[Double]] = SkyBuffer.NoWindow

  /** The buffer's dimensionality, or -1 while it holds no entry. */
  def dims: Int = if (points.isEmpty) -1 else points(0).length

  def add(p: Array[Double]): Unit = offer(p, 1L, copy = false)

  /** `count` copies of `p` as one entry. */
  def add(p: Array[Double], count: Long): Unit = offer(p, count, copy = false)

  /** [[add]] of one copy for a caller that refills `p` for every row: `p`
    * is copied only when it is kept, so a dropped row allocates nothing. */
  def addCopy(p: Array[Double]): Unit = offer(p, 1L, copy = true)

  private def offer(p: Array[Double], count: Long, copy: Boolean): Unit = {
    if (eliminated(p)) skipped += 1
    else { points += (if (copy) p.clone() else p); counts += count }
    if (points.length + skipped >= compactAt) compact()
  }

  def absorb(other: SkyBuffer): Unit = {
    points ++= other.points
    counts ++= other.counts
    skipped += other.skipped
    if (points.length + skipped >= compactAt) compact()
  }

  def compact(): Unit = {
    val (p, c) = SkylineKernel.skylineCounted(points, counts)
    points = p
    counts = c
    compactAt = math.max(SkyBuffer.MinCompact, 2 * points.length)
    skipped = 0
    window = SkyBuffer.windowOf(points)
  }

  /** Final skyline as an array (the aggregate `finish`/`eval`), duplicates
    * re-expanded. */
  def result(): Array[Array[Double]] = {
    compact()
    SkylineKernel.expand(points, counts).toArray
  }

  /** Does a window point dominate `p`? Never for a NaN-bearing `p`. */
  private def eliminated(p: Array[Double]): Boolean = {
    val w = window
    if (w == null || w.length == 0 || SkylineKernel.hasNaN(p)) return false
    var i = 0
    while (i < w.length) {
      if (Dominance.dominates(w(i), p)) return true
      i += 1
    }
    false
  }
}

object SkyBuffer {
  /** Minimum entries between compactions; amortizes SFS sort cost. */
  val MinCompact = 1024

  /** Points in the elimination filter's window. */
  val WindowSize = 16

  private val NoWindow = new Array[Array[Double]](0)

  /** The [[WindowSize]] NaN-free points of `pts` with the lowest
    * coordinate sums, lowest first (a dominator has a smaller sum, so the
    * strongest candidates are tried first). */
  private def windowOf(pts: ArrayBuffer[Array[Double]]): Array[Array[Double]] = {
    val w = new Array[Array[Double]](WindowSize)
    val ws = new Array[Double](WindowSize)
    var n = 0
    var i = 0
    while (i < pts.length) {
      val p = pts(i)
      if (!SkylineKernel.hasNaN(p)) {
        val s = Dominance.coordSum(p)
        if (n < WindowSize || java.lang.Double.compare(s, ws(n - 1)) < 0) {
          var j = math.min(n, WindowSize - 1)
          while (j > 0 && java.lang.Double.compare(s, ws(j - 1)) < 0) {
            w(j) = w(j - 1); ws(j) = ws(j - 1); j -= 1
          }
          w(j) = p; ws(j) = s
          if (n < WindowSize) n += 1
        }
      }
      i += 1
    }
    if (n == WindowSize) w else java.util.Arrays.copyOf(w, n)
  }
}
