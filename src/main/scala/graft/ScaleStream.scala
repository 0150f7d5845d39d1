package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Scale._
import graft.core.{DataGen, GeoPartitioners}
import graft.operators.SkylineOps
import graft.sources.DataGenSource
import graft.streaming.{StreamBoilerplate, StreamEmbDedup, StreamingSkyline, StreamSubstrDedup}
import graft.streaming.StreamingSkyline.SkyEvent

/** The streaming families of [[Scale]]: the streaming skyline (`stream`)
  * and the ingestion-time curation twins (`sdedup`, `sboil`, `semb`). Every
  * feed is a MemoryStream of block ids flatMapped executor-side to rows, so
  * the driver never holds a point or a document. */
object ScaleStream {

  /** Micro-batches per curation-twin cell. */
  val Blocks = 10
  /** MR-Dim partitions of the streaming skyline. */
  val NPart = 8

  /** Streaming-mode scalability envelope: the reference's headline claim
    * ("linear up to 10M records 2D/3D, total time < 400 s" —
    * `project_documentation.pdf` p.17 §5.2, BASELINE.md) reproduced through
    * the ACTUAL streaming topology ([[StreamingSkyline]]: MR-Dim keyed local
    * phase → latched global merge), not the batch analog — with a query
    * trigger fanned out every `cadence` records (SPARK_GRAFT_STREAM_CADENCE,
    * default 1M) and every snapshot checked for parity against the batch
    * skyline of its exact prefix (SURVEY §7.4 item 5).
    *
    * Feed: a MemoryStream of sub-block indices, flatMapped executor-side to
    * the deterministic [[DataGen]] anti-correlated stream (the same
    * generator drives the batch `skyline` family). Each cadence cycle
    * ingests its block across 32 generation tasks, then a D5-immediate
    * trigger ("q<i>,0" — barrier trivially met, so the snapshot is the
    * skyline of EXACTLY the records ingested so far) is fanned out and
    * processed in its own micro-batch. Per cycle the JSON records ingest and
    * query wall seconds, the streamed skyline_size, and the batch oracle —
    * the DISTRIBUTED batch MR skyline ([[SkylineOps.mrSkylinePoints]]) of
    * the same generated prefix. The two paths share only the dominance/SFS
    * kernel: topology (8-partition keyed state machine vs map-side combine
    * tree), orderings, and merge schedule are independent, so multiset-size
    * agreement at every boundary pins the frontier from two directions. (A
    * driver-side single-threaded fold was the first oracle shape — correct
    * but serial: the 3D×10M frontier is ~135k points and one thread pays
    * the whole compaction cost the batch engine spreads over 32 tasks.)
    */
  def stream(c: Ctx, n: Long, dims: Int): Cells = {
    val spark = c.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cadence = c.knob("SPARK_GRAFT_STREAM_CADENCE", "1000000").toLong
    val dMax = 10000
    val seed = 42L
    val subBlocks = 32           // generation tasks per cadence cycle
    val subSize = cadence / subBlocks
    require(cadence % subBlocks == 0 && n % cadence == 0,
      s"n/cadence/subBlocks must nest: n=$n cadence=$cadence")

    // Batch oracle: the distributed MR skyline of each exact prefix over
    // the same generated stream, cached once (see scaladoc).
    val names = Seq("x", "y", "z", "w").take(dims)
    val gen = DataGenSource.pointsDF(spark, "anti_correlated", seed, n,
        dims, 0, dMax, numPartitions = c.parts)
      .select(col("id") +: names.zipWithIndex.map {
        case (d, i) => col("values")(i).as(d) }: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pidCol = SkylineOps.dimPartitionCol(
      array(names.map(col): _*), dMax.toDouble, NPart)
    val oracle = (1L to n / cadence).map { cyc =>
      SkylineOps.mrSkylinePoints(
        gen.filter(col("id") < cyc * cadence), names, pidCol).count()
    }
    gen.unpersist(blocking = false)

    val points = MemoryStream[Long]
    val triggers = MemoryStream[SkyEvent]
    // Executor-side generation: one sub-block row fans out to subSize
    // deterministic points; repartition spreads the 32 rows over 32
    // tasks BEFORE the flatMap so generation parallelizes.
    val pointEvents = points.toDS().repartition(subBlocks).flatMap { blk =>
      val lo = blk * subSize
      (lo until lo + subSize).iterator.map { i =>
        val v = DataGen.antiCorrelated(seed, i, dims, 0, dMax)
        SkyEvent(GeoPartitioners.dimPartition(v, dMax.toDouble, NPart),
          isTrigger = false, i, v, "", 0L)
      }
    }
    val name = s"stream_scale_${dims}d"
    val q = StreamingSkyline(pointEvents.union(triggers.toDS()), NPart)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val perTrigger =
      try {
        (1L to n / cadence).map { cyc =>
          val base = (cyc - 1) * cadence / subSize
          val (_, ingestSec) = timed {
            points.addData(base until base + subBlocks)
            q.processAllAvailable()
          }
          val (_, querySec) = timed {
            triggers.addData(StreamingSkyline.fanOutTrigger(s"$cyc,0", NPart,
              System.currentTimeMillis()))
            q.processAllAvailable()
          }
          val json = spark.table(name).as[String].collect()
            .find(_.contains("\"query_id\": \"" + cyc + "\""))
            .getOrElse(sys.error(s"no snapshot for trigger $cyc"))
          val size = "\"skyline_size\": ([0-9]+)".r
            .findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L)
          (cyc * cadence, ingestSec, querySec, size, oracle((cyc - 1).toInt))
        }
      } finally q.stop()

    val parity = perTrigger.forall { case (_, _, _, got, exp) => got == exp }
    val rows = perTrigger.map { case (pre, ing, qs, got, exp) =>
      f"""{"prefix":$pre,"ingest_sec":$ing%.2f,"query_sec":$qs%.2f,"skyline_size":$got,"batch_oracle":$exp}"""
    }.mkString("[", ",", "]")
    val total = perTrigger.map(t => t._2 + t._3).sum
    cells(f"""{"dims":$dims,"n":$n,"cadence":$cadence,"parity":$parity,"total_sec":$total%.2f,"triggers":$rows}""")
  }

  /** One fed query's outcome: rows out, rows flagged, final state-store rows. */
  final case class Fed(rows: Long, flagged: Long, stateRows: Long)

  /** The curation twins' feed: streams an `n`-row corpus through one query
    * in [[Blocks]] micro-batches. A MemoryStream of block ids explodes
    * executor-side to rows (`key`, ts): block b carries ids
    * [b·n/Blocks, (b+1)·n/Blocks) at ts = one minute per block, so ts
    * advances per block while the operators' 600-minute lateness keeps
    * every row inside the horizon (boundedness is read from the state row
    * count; eviction is spec-tested). `query` builds the streaming frame
    * from them. A foreachBatch count sink tallies its rows and `flag`
    * hits — only two longs per micro-batch reach the driver, never the
    * flagged rows; with `perKey` an input row's several output rows are
    * OR-ed into one first (all of them share its micro-batch by
    * construction). The ingest loop is one lap of `lap`; the state row
    * count comes from the query's final progress. */
  def feed(c: Ctx, lap: Laps, n: Long, key: String, flag: String,
           perKey: Boolean = false)(query: DataFrame => DataFrame): Fed = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.spark.sqlContext
    import c.spark.implicits._
    val blockSz = n / Blocks
    val ids = MemoryStream[Int]
    val rows = ids.toDF().select(
        explode(sequence(col("value").cast("long") * blockSz,
          (col("value").cast("long") + 1) * blockSz - 1)).as(key),
        col("value"))
      .select(col(key),
        timestamp_seconds(lit(1700000000L) + col("value") * 60L).as("ts"))
    var flagged = 0L
    var total = 0L
    val q = query(rows).writeStream
      .outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val one = if (perKey) df.groupBy(key).agg(max(col(flag)).as(flag)) else df
        val r = one.agg(count(lit(1)), sum(when(col(flag), 1L).otherwise(0L))).head()
        total += r.getLong(0)
        flagged += (if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      .start()
    // stop() inside the finally: a throw from addData/processAllAvailable
    // must not leak a running query (the run would hang on the next
    // cell's fresh query otherwise).
    try lap {
      (0 until Blocks).foreach { b =>
        ids.addData(b)
        q.processAllAvailable()
      }
    } finally q.stop()
    val stateRows = Option(q.lastProgress)
      .flatMap(p => p.stateOperators.headOption)
      .map(_.numRowsTotal).getOrElse(-1L)
    Fed(total, flagged, stateRows)
  }

  /** Reps of the sdedup and semb cells (SPARK_GRAFT_SCALE_REPS, default 2):
    * ingest wall swings with page-cache/GC phase while flag counts and
    * state rows are exact, so each cell runs independent queries (fresh
    * MemoryStream + checkpoint each) under the first/min protocol. */
  private def streamReps(c: Ctx): Int = c.knob("SPARK_GRAFT_SCALE_REPS", "2").toInt

  /** Streaming-dedup envelope: throughput and STATE BOUNDEDNESS of the
    * ingestion-time sub-document filter
    * ([[graft.streaming.StreamSubstrDedup.flagDupSpans]], k=8) over the
    * planted-dup corpus of the dedup family
    * ([[ScaleBatch.plantedDupText]]). Base docs stream first and the 10%
    * near-dup tail lands in the last blocks, so every dup's base has
    * already streamed through — the regime an ingestion filter sees. The
    * cell records ingest seconds, docs/sec, flagged instances next to the
    * expected planted count (15 shared windows per dup doc — base/dup pairs
    * share their 22-token prefix), and the final state-store row count —
    * the number that must track DISTINCT spans in the horizon (~17 per
    * doc), not stream length, for the "runs forever" claim to hold.
    *
    * Heap: the state store keeps one entry per distinct span in the horizon
    * (md5-hex key + boolean) — size SPARK_DRIVER_MEM for ~100 B × 17 × n
    * (the 8g default OOMed the 1M leg on a loaded box in r16; 16g held),
    * and use SPARK_GRAFT_STATE_PROVIDER=rocksdb past ~2M docs — the r16 3M
    * leg ran 46.5M state rows off-heap at 16k docs/s where the on-heap map
    * would not fit (RocksDB native teardown can abort the JVM AFTER the
    * artifact is written at that state size; the measurement is complete).
    * The artifact records the provider and maintenance interval, since
    * default-provider and RocksDB cells are committed as separate files. */
  def sdedup(c: Ctx, n: Long): Cells = {
    val reps = streamReps(c)
    val r = firstMin(reps) { lap =>
      feed(c, lap, n, "doc_id", "dup") { rows =>
        StreamSubstrDedup.flagDupSpans(
          rows.select(col("doc_id"), col("ts"),
            ScaleBatch.plantedDupText(col("doc_id"), n).as("text")),
          "doc_id", "ts", 8, "600 minutes").toDF()
      }
    }
    val Fed(total, flagged, stateRows) = r.counts
    val expFlagged = (n - (n * 9) / 10) * 15L
    cells(f"""{"n":$n,"ingest_sec":${r.min(0)}%.2f,"ingest_first":${r.first(0)}%.2f,"reps":$reps,"docs_per_sec":${(n / r.min(0)).toLong},"spans":$total,"flagged":$flagged,"exp_flagged":$expFlagged,"state_rows":$stateRows}""")
  }

  /** Streaming-boilerplate envelope: throughput and state boundedness of
    * the ingestion-time template detector
    * ([[graft.streaming.StreamBoilerplate.flagBoilerSpans]]) — the sdedup
    * harness with a PLANTED GLOBAL TEMPLATE instead of pairwise near-dups,
    * because doc-frequency semantics need a span seen in ≥ minDocs
    * DISTINCT documents to fire at all.
    *
    * Corpus: 24-token docs from a 4k hash vocabulary; every 10th doc
    * (doc_id % 10 == 9) opens with the same fixed 10-token template, so
    * its k=8 windows at positions 0..2 sit fully inside the template and
    * recur corpus-wide while every other window is hash-unique. Under
    * first-crossing semantics with minDocs=3, the first two template docs
    * stream through unflagged and every later one flags exactly its 3
    * template windows: expected flags = 3 × (n/10 − 2) — an exact count
    * the cell asserts against, like the sdedup family's planted 15. The
    * state row count must track DISTINCT spans in the horizon, ~17 per doc
    * + 3 shared. */
  def sboil(c: Ctx, n: Long): Cells = {
    val r = firstMin(1) { lap =>
      feed(c, lap, n, "doc_id", "boiler") { rows =>
        val isTpl = pmod(col("doc_id"), lit(10L)) === 9
        val text = concat_ws(" ", (0 until 24).map { j =>
          val own = concat(lit("w"),
            pmod(xxhash64(col("doc_id"), lit(j)), lit(4096L)).cast("string"))
          if (j < 10) when(isTpl, lit(s"t$j")).otherwise(own)
          // Position 10 is DOC-UNIQUE for template docs: a k=8 window at
          // position 3 carries 7 template tokens + token 10 — from a 4k
          // hash vocabulary that window recurs across ~m/4096 template
          // docs and crosses minDocs on its own (measured +24% over the
          // planted expectation); a unique token pins every
          // template-crossing window's df at 1, so flagged == 3·(m−2)
          // exactly.
          else if (j == 10)
            when(isTpl, concat(lit("u"), col("doc_id").cast("string")))
              .otherwise(own)
          else own
        }: _*)
        StreamBoilerplate.flagBoilerSpans(
          rows.select(col("doc_id"), col("ts"), text.as("text")),
          "doc_id", "ts", 8, 3, "600 minutes").toDF()
      }
    }
    val Fed(total, flagged, stateRows) = r.counts
    val ingestSec = r.min(0)
    val expFlagged = 3L * (n / 10 - 2)
    cells(f"""{"n":$n,"ingest_sec":$ingestSec%.2f,"docs_per_sec":${(n / ingestSec).toLong},"spans":$total,"flagged":$flagged,"exp_flagged":$expFlagged,"state_rows":$stateRows}""")
  }

  val EmbDims = 64
  val EmbBits = 12

  /** Component i of the `slot` center (hash-derived in [-1, 1]), plus
    * `noise`-scaled per-id noise when `noise` > 0. */
  private def embedding(m: Long, noise: Double): Column = {
    def comp(seed: Int, key: Column, i: Column): Column =
      (pmod(xxhash64(lit(seed), key, i), lit(2001L)).cast("double") /
        lit(1000.0)) - lit(1.0)
    val slot = pmod(col("vec_id"), lit(m))
    transform(sequence(lit(0), lit(EmbDims - 1)), i =>
      (if (noise > 0) comp(31, slot, i) + comp(37, col("vec_id"), i) * lit(noise)
       else comp(31, slot, i)).cast("float"))
  }

  /** Streaming embedding-dedup envelope: throughput and state boundedness
    * of the ingestion-time semantic filter
    * ([[graft.streaming.StreamEmbDedup.flagNearDups]]) — the sdedup harness
    * over VECTORS.
    *
    * "exact" leg: every vector is EXACTLY its slot center (64-d
    * hash-derived, slot = id % m with m = n/10 distinct slots), so the
    * stream carries 10 copies of each of m distinct vectors. Under
    * first-kept semantics at minCos 0.999 the first arrival of each slot
    * passes and seeds its bucket's keep-set; every later copy is cosine-1
    * to it and flags: expected flags = n − m EXACTLY, and the keep-set is
    * bounded by the m distinct slots (~51 MB of state at 1M rows), never the
    * stream. `cap` is sized above the maximum slots-per-bucket occupancy so
    * saturation never steals a flag from the expectation — and occupancy is
    * NOT hash-uniform: plane-sign buckets skew toward popular sign patterns
    * (a first run at cap 4096 measured exactly 1,666 slots unadmitted in the
    * hottest buckets at m = 100k → 14,994 of 900,000 expected flags traded —
    * the documented saturation contract doing its job; 16384 clears the
    * observed skew). State rows = occupied buckets ≤ 2^bits.
    *
    * "multi" leg: the MULTI-TABLE twin
    * ([[graft.streaming.StreamEmbDedup.flagNearDupVotes]]) on a NOISY
    * corpus — copies deviate ~2° from their slot center, so single-table
    * sign-bucket blocking misses a measurable fraction — reporting the
    * recall lift of tables = 2 over tables = 1 at the measured state /
    * throughput cost, plus each run's saturation counter (the cap-rejection
    * visibility surface). Same denominator for both (every non-first copy
    * of a slot is a true near-dup), so flagged/exp IS the blocking recall.
    *
    * Flagging is order-independent on these corpora (all copies of a slot
    * are mutually above threshold, so WHICH copy seeds the bucket never
    * changes a flag count), so the reps' counts must agree.
    * SPARK_GRAFT_SCALE_LEGS (default "exact,multi") picks the legs. */
  def semb(c: Ctx, n: Long): Cells = {
    val legs = c.list("SPARK_GRAFT_SCALE_LEGS", "exact,multi").toSet
    val reps = streamReps(c)
    val m = n / 10
    val exact = if (!legs("exact")) Nil else {
      val r = firstMin(reps) { lap =>
        feed(c, lap, n, "vec_id", "dup") { rows =>
          StreamEmbDedup.flagNearDups(
            rows.select(col("vec_id"), col("ts"), embedding(m, 0).as("embedding")),
            "vec_id", "ts", "embedding", EmbBits, EmbDims, 0.999,
            cap = 16384, lateness = "600 minutes").toDF()
        }
      }
      val Fed(total, flagged, stateRows) = r.counts
      Seq("cells" -> f"""{"n":$n,"ingest_sec":${r.min(0)}%.2f,"ingest_first":${r.first(0)}%.2f,"reps":$reps,"vecs_per_sec":${(n / r.min(0)).toLong},"rows":$total,"flagged":$flagged,"exp_flagged":${n - m},"state_rows":$stateRows}""")
    }
    val multi = if (!legs("multi")) Nil else {
      // center(slot) ± 0.04-scaled per-id noise: ~2° off-center, so two
      // copies of one slot stay within cos ≥ ~0.997 of each other while
      // 12 sign bits split copy from seed ~10–15% of the time per table.
      val Seq(t1, t2) = Seq(1, 2).map { tables =>
        firstMin(reps) { lap =>
          val sat = c.spark.sparkContext.longAccumulator(s"semb_sat_t$tables")
          val fed = feed(c, lap, n, "vec_id", "dup", perKey = true) { rows =>
            StreamEmbDedup.flagNearDupVotes(
              rows.select(col("vec_id"), col("ts"), embedding(m, 0.04).as("embedding")),
              "vec_id", "ts", "embedding", tables, EmbBits, EmbDims, 0.99,
              cap = 16384, lateness = "600 minutes", saturated = Some(sat)).toDF()
          }
          (fed, sat.value)
        }
      }
      val ((f1, sat1), (f2, sat2)) = (t1.counts, t2.counts)
      assert(f1.rows == n && f2.rows == n, s"row loss: ${f1.rows}/${f2.rows} of $n")
      Seq("multi_cells" -> (f"""{"n":$n,"exp_flagged":${n - m},"reps":$reps,""" +
        f""""t1_ingest_sec":${t1.min(0)}%.2f,"t1_ingest_first":${t1.first(0)}%.2f,"t1_flagged":${f1.flagged},"t1_state_rows":${f1.stateRows},"t1_saturated":$sat1,""" +
        f""""t2_ingest_sec":${t2.min(0)}%.2f,"t2_ingest_first":${t2.first(0)}%.2f,"t2_flagged":${f2.flagged},"t2_state_rows":${f2.stateRows},"t2_saturated":$sat2}"""))
    }
    exact ++ multi
  }
}
