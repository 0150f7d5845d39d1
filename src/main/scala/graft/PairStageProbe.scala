package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage decomposition of the MinHash pairs leg (round 17 — the one 10M
  * dedup leg whose wall-clock has no attributed lever since the r15
  * folded-key fold: 67.1 s r15-quiet, 108.5 r16, 141.0 r17 at
  * bit-identical counts while the OTHER legs improved on the same r17
  * box). Measures, over [[DedupScaleBench]]'s exact corpus and
  * hyperparameters (b=12, r=3, 3-shingles, verify ≥ 1/2):
  *
  *   1. `sr_sec`   — distinct shingle rows, built + persisted (the scan +
  *                   shingle + distinct shuffle every later stage reuses);
  *   2. `sig_sec`  — folded banded keys off the WARM sr cache (the
  *                   36-hash min-aggregate + band fold + explode: one
  *                   groupBy(id) shuffle), built + persisted;
  *   3. `cand_sec` — candidate pairs off the WARM sig cache (hot-bucket
  *                   window + bk self-join + distinct);
  *   4. `full_sec` — the production [[graft.operators.DedupOps.minhashNearDups]]
  *                   count in the same JVM. It computes its band keys
  *                   and its verify straight from the text, so it reads
  *                   none of the sr/sig caches of lanes 1–3: it is the
  *                   whole pairs leg, not a verify-stage increment.
  *
  * Per rep the caches are RELEASED and rebuilt, so stage 1/2 always
  * measure cold builds; counts are required identical across reps.
  *
  * Run: `sbt -batch "runMain graft.PairStageProbe"` (env knobs:
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_SCALE_NS="10000000",
  * SPARK_GRAFT_SCALE_REPS, SPARK_GRAFT_SCALE_OUT=PAIR_STAGE_out.json;
  * SPARK_DRIVER_MEM=16g for the 10M cell).
  */
object PairStageProbe {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val ns = sys.env.getOrElse("SPARK_GRAFT_SCALE_NS", "10000000")
      .split(",").map(_.trim.toLong).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cells = ns.map { n =>
      // DedupScaleBench's generator, verbatim (same planted structure).
      val nBase = (n * 9) / 10
      val docs = spark.range(0, n, 1, cpus.toInt * 4).select(
          col("id").as("doc_id"),
          when(col("id") < nBase, col("id"))
            .otherwise((col("id") - nBase) * 9L).as("seed"),
          (col("id") >= nBase).as("isdup"))
        .select(col("doc_id"), concat_ws(" ",
          (0 until 24).map { j =>
            val base = concat(lit("w"),
              pmod(xxhash64(col("seed"), lit(j)), lit(4096L)).cast("string"))
            if (j >= 22)
              when(col("isdup"),
                concat(lit("p"), pmod(col("doc_id"), lit(97L)).cast("string")))
                .otherwise(base)
            else base
          }: _*).as("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()

      def timed(body: => Long): (Double, Long) = {
        val t = System.nanoTime()
        val c = body
        ((System.nanoTime() - t) / 1e9, c)
      }
      final case class Stages(srSec: Double, nSr: Long, sigSec: Double,
                              nSig: Long, candSec: Double, nCand: Long,
                              fullSec: Double, nPairs: Long)
      def runOnce(): Stages = {
        val ops = graft.operators.DedupOps
        val sr = graft.core.Caches.persistTracked(
          ops.shingleRows(docs, "doc_id", 3))
        val (srSec, nSr) = timed(sr.count())
        val sig = graft.core.Caches.persistTracked(ops.bandedKeys(sr, 12, 3))
        val (sigSec, nSig) = timed(sig.count())
        val (candSec, nCand) = timed(ops.candidatePairsKeyed(sig).count())
        val (fullSec, nPairs) = timed(
          ops.minhashNearDups(docs, "doc_id", 3, 12, 3, 1, 2).count())
        // Release only the probe's OWN caches (r18, ADVICE): a blanket
        // clearCache() would also evict the persisted `docs` corpus frame
        // (persisted once before the reps loop), so reps >= 2 would
        // regenerate the corpus inside every stage scan — diverging from
        // rep 1 and from DedupScaleBench's warm-docs discipline (which
        // only ever calls unpersistPipelines, never clearCache).
        ops.unpersistPipelines()
        graft.core.Caches.releaseAll()
        Stages(srSec, nSr, sigSec, nSig, candSec, nCand, fullSec, nPairs)
      }
      val runs = (0 until reps).map(_ => runOnce())
      val f = runs.head
      require(runs.forall(r =>
          (r.nSr, r.nSig, r.nCand, r.nPairs) == ((f.nSr, f.nSig, f.nCand, f.nPairs))),
        s"rep counts diverged: $runs")
      def mn(g: Stages => Double) = runs.map(g).min
      docs.unpersist(blocking = true)
      f"""{"n":$n,"reps":$reps,"sr_sec":${mn(_.srSec)}%.2f,"sr_first":${f.srSec}%.2f,"n_sr":${f.nSr},""" +
        f""""sig_sec":${mn(_.sigSec)}%.2f,"sig_first":${f.sigSec}%.2f,"n_sig":${f.nSig},""" +
        f""""cand_sec":${mn(_.candSec)}%.2f,"cand_first":${f.candSec}%.2f,"n_cand":${f.nCand},""" +
        f""""full_sec":${mn(_.fullSec)}%.2f,"full_first":${f.fullSec}%.2f,"n_pairs":${f.nPairs}}"""
    }

    val line =
      s"""{"metric":"pair_stage_probe","cells":${cells.mkString("[", ",", "]")},"b":12,"r":3,"shingle_n":3}"""
    println(line)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "PAIR_STAGE_out.json")), line)
    spark.stop()
  }
}
