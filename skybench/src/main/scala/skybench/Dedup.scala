package skybench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Caches
import graft.operators.DedupOps

/** `dedup_neardup`: the DedupScaleBench corpus (24 words per document from a
  * 4k vocabulary; the last 10% of documents are planted near-duplicates of
  * base documents, last two words perturbed, shingle Jaccard 20/24), with the
  * workload seed mixed into the word hash. One closed-loop client; each
  * iteration builds `nearDupModel(n=3, b=12, r=3, 1/2)`, runs its pairs and
  * clusters consumers, then `Caches.releaseAll`. */
object DedupNearDup {
  /** One iteration's consumer outputs: verified pairs, (doc, cluster) rows of
    * clustered docs, keep-list size. */
  final case class Answer(pairs: Array[(Long, Long)],
                          clustered: Array[(Long, Long)], keep: Long)
}

final class DedupNearDup(ctx: Ctx, n: Int) extends Workload {
  import ctx.spark
  import DedupNearDup.Answer

  private val nBase = n * 9 / 10
  private val SetupRounds = 3
  // LSH misses a planted pair with probability (1 - (20/24)^3)^12 ~ 3e-5, so
  // recall is allowed this many misses; found pairs must all be planted.
  private val missTolerance = math.max(3, (n - nBase) / 1000)
  private var docs: DataFrame = _

  private def corpus(): DataFrame = {
    val d = spark.range(0, n, 1, ctx.cores * 2).select(
        col("id").as("doc_id"),
        when(col("id") < nBase, col("id"))
          .otherwise((col("id") - nBase) * 9L).as("base"),
        (col("id") >= nBase).as("isdup"))
      .select(col("doc_id"), concat_ws(" ", (0 until 24).map { j =>
        val w = concat(lit("w"), pmod(xxhash64(col("base"), lit(j), lit(ctx.seed)),
          lit(4096L)).cast("string"))
        if (j >= 22) when(col("isdup"),
          concat(lit("p"), pmod(col("doc_id"), lit(97L)).cast("string"))).otherwise(w)
        else w
      }: _*).as("text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    d.count()
    d
  }

  private def fetch(): Answer = {
    val m = ctx.tracer.span("dedup.model")(
      DedupOps.nearDupModel(docs, "doc_id", 3, 12, 3, 1, 2))
    val pairs = m.pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clustered = m.clusters.filter(col("cluster") =!= col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val keep = m.clusters.filter(col("cluster") === col("doc_id")).count()
    ctx.tracer.span("caches.release")(Caches.releaseAll())
    Answer(pairs, clustered, keep)
  }

  private var firstPairs: Option[Set[(Long, Long)]] = None

  private def check(a0: Answer): String = {
    val a = if (ctx.corrupt) a0.copy(pairs = a0.pairs.drop(1)) else a0
    val found = a.pairs.toSet
    val stray = found.filterNot { case (x, y) => y >= nBase && x == (y - nBase) * 9 }
    val missed = (n - nBase) - (found.size - stray.size)
    val want = found.map { case (x, y) => (y, x) }
    if (stray.nonEmpty) s"${stray.size} pairs are not planted, e.g. ${stray.head}"
    else if (found.size != a.pairs.length) "duplicate pairs"
    else if (missed > missTolerance) s"$missed planted pairs missed (> $missTolerance)"
    else if (firstPairs.exists(_ != found)) "pair set differs from this run's first answer"
    else if (a.clustered.toSet != want || a.clustered.length != want.size)
      s"clusters disagree with pairs (${a.clustered.length} clustered, ${want.size} pairs)"
    else if (a.keep != n - want.size) s"keep-list ${a.keep} != ${n - want.size}"
    else { if (firstPairs.isEmpty) firstPairs = Some(found); "" }
  }

  /** Bytes of persisted RDD blocks other than the corpus itself. */
  private def cachedBytes(): Double = {
    val docsId = docs.rdd.id
    spark.sparkContext.getRDDStorageInfo
      .filter(_.id != docsId)
      .map(i => (i.memSize + i.diskSize).toDouble).sum
  }

  def run(): WorkloadOut = {
    // Set-up: corpus generation repeated, then two warm-up iterations (the
    // first-run cost users pay once), whose answers are checked like any other.
    val rounds = (1 to SetupRounds).map { _ =>
      Runner.timeS {
        if (docs != null) docs.unpersist(blocking = true)
        docs = ctx.tracer.span("sources.corpus")(corpus())
      }._2
    }
    // Warm-up iterations run under the query budget and are checked; a
    // failed one skips the loop and is reported as the run's query.
    val (warm, warmS) = Runner.timeS((1 to 2).map(i =>
      Runner.run(ctx, -i, "dedup", "warmup")(fetch())(check)))
    ctx.probe.foreach(_.recording = true)
    val warmFailed = warm.filterNot(_.ok)
    val qs = if (warmFailed.nonEmpty) warmFailed
      else Runner.closedLoop(ctx)(i => Runner.run(ctx, i, "dedup", "iteration")(fetch())(check))
    val layers = if (ctx.probe.isEmpty || warmFailed.nonEmpty) Map.empty[String, Double]
                 else layerProbe()
    WorkloadOut(
      setupRoundsS = rounds.map(_ + warmS),
      queries = qs,
      rowsPerS = n.toDouble * qs.size / (qs.map(_.ms).sum / 1e3),
      layers = layers,
      info = Map("docs" -> n, "planted_pairs" -> (n - nBase),
        "found_pairs" -> firstPairs.map(_.size).getOrElse(-1),
        "miss_tolerance" -> missTolerance, "warmup_ms" -> warm.map(_.ms),
        "corpus_s" -> rounds, "warmup_s" -> warmS,
        "model" -> "nearDupModel(n=3, b=12, r=3, 1/2)",
        "client" -> "closed loop, 1 client"))
  }

  private def layerProbe(): Map[String, Double] = {
    val probe = ctx.probe.get
    probe.drain(); probe.reset()
    val (_, iterS) = Runner.timeS {
      val m = DedupOps.nearDupModel(docs, "doc_id", 3, 12, 3, 1, 2)
      m.pairs.count(); m.clusters.filter(col("cluster") =!= col("doc_id")).count()
    }
    val peak = cachedBytes()
    Caches.releaseAll()
    probe.drain()
    val sparkC = probe.counters(iterS * 1e3)
    probe.recording = false
    val deadline = System.nanoTime() + 2000000000L
    while (cachedBytes() > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    val leaked = cachedBytes()

    val sr = DedupOps.shingleRows(docs, "doc_id", 3).persist(StorageLevel.MEMORY_AND_DISK)
    val (_, shingleS) = Runner.timeS(ctx.tracer.span("dedup.shingle")(sr.count()))
    val (_, sigS) = Runner.timeS(ctx.tracer.span("dedup.signature")(
      DedupOps.bandedKeys(sr, 12, 3).count()))
    sr.unpersist(blocking = true)
    val cand = ctx.tracer.span("dedup.candidates")(
      DedupOps.minhashCandidates(docs, "doc_id", 3, 12, 3).count())
    val pairs = DedupOps.minhashNearDups(docs, "doc_id", 3, 12, 3, 1, 2)
      .select("id_a", "id_b").persist(StorageLevel.MEMORY_AND_DISK)
    val (verified, pairS) = Runner.timeS(ctx.tracer.span("dedup.verify")(pairs.count()))
    val (clustered, clusterS) = Runner.timeS(ctx.tracer.span("dedup.cluster")(
      DedupOps.nearDupClusters(docs, "doc_id", pairs)
        .filter(col("cluster") =!= col("doc_id")).count()))
    pairs.unpersist(blocking = true)
    Caches.releaseAll()
    sparkC ++ Map(
      "dedup.shingle_ms" -> shingleS * 1e3,
      "dedup.signature_ms" -> sigS * 1e3,
      "dedup.candidates" -> cand.toDouble,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup.verify_yield" -> verified.toDouble / math.max(1L, cand),
      "dedup.verify_ms" -> math.max(0.0, pairS - shingleS - sigS) * 1e3,
      "dedup.cluster_ms" -> clusterS * 1e3,
      "dedup.clustered_docs" -> clustered.toDouble,
      "caches.persisted_bytes_peak" -> peak,
      "caches.leaked_after_release" -> leaked)
  }
}
