package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: JVM/codegen/scan setup lands here, not on whichever query
    // happens to run first.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Optional comma-separated query filter for local iteration; the driver
    // leaves it unset and measures everything. Names are trimmed and empties
    // dropped so "a, b" works and SPARK_GRAFT_ONLY="" means "no filter", not
    // "measure nothing".
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    // Per-query time budget: a breach records the -1 sentinel + an errors
    // entry and the bench MOVES ON — one pathological query must never
    // again turn a green round into a driver-level rc=124 with no
    // per-query data (round 10's failure mode). 150 s default covers the
    // slowest legitimate query at sf0.1 by ~30× while still bounding the
    // worst case of the whole run.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_BUDGET_SEC", "150").toDouble
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      // A query that crashes or breaches its budget must not measure as
      // FAST (an aborted job returns in milliseconds and would flatter the
      // total): record a -1 sentinel and surface the name in an "errors"
      // field instead.
      def once(): Double = {
        val dt = BenchGuard.timed(spark, s"bench-$name", budgetSec,
          onTimeout = msg => System.err.println(s"[graft.Bench] $msg")) {
          fn(spark, sfDir).count(); ()
        }
        // Queries that persist intermediates (dedup LSH) would otherwise leak
        // cached partitions into every later measurement.
        graft.operators.DedupOps.unpersistPipelines()
        spark.catalog.clearCache()
        dt
      }
      // Min-of-2: one contended run on a shared box can fake a multi-×
      // regression on a single-shot wall clock. Sub-0.5 s queries skip the
      // repeat — their noise floor is below any decision threshold and the
      // repeats would double total wall-clock for nothing. An errored FIRST
      // run gets one retry (a transient OOM/contention hiccup must not mark
      // the query failed for the whole bench); an errored SECOND run falls
      // back to the successful first time. Only a double failure records the
      // -1 sentinel and the name in `errors`.
      val first = once()
      val (best, n) =
        if (first < 0) {
          // The retry is a fresh single sample, so it needs its own min-of-2
          // when it lands above the repeat threshold — otherwise one
          // contended retry fakes a regression through the error path.
          val r = once()
          if (r < 0 || r < 0.5) (r, 2) else (math.min(r, once()), 3)
        }
        else if (first < 0.5) (first, 1)
        else { val second = once(); if (second < 0) (first, 2) else (math.min(first, second), 2) }
      if (best < 0) errors += name
      (name, first, best, n)
    }
    // `queries` stays a flat name→seconds map (the driver's schema) holding
    // the MIN; `first` is the parallel first-run map so a noisy box shows up
    // as first≫min instead of faking a regression or an improvement; `n` is
    // the samples-per-query map so the artifact records the protocol
    // (min-of-N; sub-0.5 s queries skip the repeat — their noise floor is
    // below any decision threshold).
    val qs = results.map { case (k, _, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fs = results.map { case (k, f, _, _) => s"\"" + k + "\":" + f }
      .mkString("{", ",", "}")
    val ns = results.map { case (k, _, _, n) => s"\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val total = results.map(_._3).filter(_ >= 0).sum
    // DEPLOYMENT-SHAPE lane: the per-gate map above RETRAINS every model
    // per query by design (gate independence — each query must stand alone
    // against its oracle), which makes the iterative trainers dominate the
    // gate-shaped narrative. This second, separately-reported map measures
    // what a deployment pays: build the shared artifact ONCE (model time),
    // then time each consumer REUSING it. Families with a shared-model
    // API: near-dup (DedupOps.nearDupModel → pairs / clusters / size
    // histogram / keep-list) and BPE (BpeOps.bpeModel → merge table /
    // vocabulary / per-doc budgets). Failures degrade to whatever entries
    // completed — the lane must never take down the gate bench.
    // Opt out with SPARK_GRAFT_DEPLOY=0. The lane runs under the SAME
    // min-of-N protocol as the gate map (SPARK_GRAFT_DEPLOY_N full passes,
    // default 2, min per entry): model builds and consumers alike get a
    // second uncontended sample, so a one-off contended build no longer
    // reads as a regression (round-13's graph tail was exactly that —
    // 10.7 s single-shot vs ~5 s real).
    def runDeployLane(): (Seq[(String, Double)], Map[String, String]) = {
      val deployEntries = scala.collection.mutable.ListBuffer.empty[(String, Double)]
      val causes = scala.collection.mutable.Map.empty[String, String]
      import org.apache.spark.sql.functions.{col, count, lit}
      // Every deploy entry runs under the SAME BenchGuard budget as the
      // gate lane: round 18 proved one pathological operator in this lane
      // (plain nanoTime timing, no guard) converts the whole bench into
      // rc=124 with ZERO per-query data — the exact failure mode the gate
      // guard was built to kill. A breach or a crash records the -1
      // sentinel here and its cause ("timeout" / "error") in `causes`; the
      // lane moves on. Model-build bodies that get cancelled leave their
      // model null, so downstream consumers fail fast into their own -1
      // sentinels instead of hanging.
      def timed(name: String)(body: => Unit): Double = {
        val (dt, cause) = BenchGuard.timedCause(spark, s"deploy-$name", budgetSec,
          onTimeout = msg => System.err.println(s"[graft.Bench] $msg"))(body)
        cause.foreach(causes(name) = _)
        dt
      }
      // Guard self-test knob: a deliberately-unfinishable entry proves the
      // degrade path (sentinel + completed JSON line) without touching any
      // real operator. Never set by the driver.
      if (sys.env.get("SPARK_GRAFT_DEPLOY_HANG").contains("1"))
        deployEntries += "deploy_hang_probe" -> timed("deploy_hang_probe") {
          import org.apache.spark.sql.functions.{sum, xxhash64}
          spark.range(Long.MaxValue).agg(sum(xxhash64(col("id")))).count(); ()
        }
      try {
        val dd = spark.read.parquet(s"$sfDir/documents.parquet")
        val m = {
          var model: graft.operators.DedupOps.NearDupModel = null
          val t = timed("dedup_model") {
            model = graft.operators.DedupOps.nearDupModel(
              dd, "doc_id", 3, 12, 3, 1, 2)
            model.pairs.count(); model.clusters.count() // materialize caches
          }
          deployEntries += "dedup_model" -> t
          model
        }
        deployEntries += "dedup_pairs" -> timed("dedup_pairs")(m.pairs.count())
        deployEntries += "dedup_clusters" -> timed("dedup_clusters")(m.clusters.count())
        deployEntries += "dedup_cluster_sizes" -> timed("dedup_cluster_sizes")(
          m.clusters.groupBy("cluster").agg(count(lit(1))).count())
        deployEntries += "dedup_keep_list" -> timed("dedup_keep_list")(
          m.clusters.filter(col("doc_id") === col("cluster")).count())
        graft.operators.DedupOps.unpersistPipelines()
        val bm = {
          var model: graft.operators.BpeOps.BpeModel = null
          val t = timed("bpe_model") {
            model = graft.operators.BpeOps.bpeModel(dd, 8)
            model.words.count() // materialize the segmented word cache
          }
          deployEntries += "bpe_model" -> t
          model
        }
        deployEntries += "bpe_merges" -> timed("bpe_merges")(
          graft.operators.BpeOps.mergesOf(bm).count())
        deployEntries += "bpe_vocab" -> timed("bpe_vocab")(
          graft.operators.BpeOps.vocabOf(bm).count())
        deployEntries += "bpe_doc_tokens" -> timed("bpe_doc_tokens")(
          graft.operators.BpeOps.docTokensOf(bm, dd, "doc_id").count())
        // k-means family: train+assign once (the gate-independence cost
        // every emb_kmeans-chain gate pays from scratch), then time the
        // cell consumers reusing the persisted assignment.
        val ee = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val asg = {
          var a: org.apache.spark.sql.DataFrame = null
          val t = timed("kmeans_model") {
            a = graft.operators.VectorOps.kmeansAssign(
                ee, "vec_id", "embedding",
                col("vec_id").between(8, 15), 3, 64)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            a.count()
          }
          deployEntries += "kmeans_model" -> t
          a
        }
        deployEntries += "kmeans_cells" -> timed("kmeans_cells")(
          asg.groupBy("cid").agg(count(lit(1))).count())
        deployEntries += "kmeans_sample" -> timed("kmeans_sample")(
          graft.operators.VectorOps.clusterBalancedSampleFrom(asg, 10).count())
        asg.unpersist(blocking = false)
        // ANN family: ONE trained coarse quantizer (+ PQ codebooks, + the
        // residual books) shared by every search / recall / semantic-dedup
        // consumer — the re-training cost each gate pays from scratch is
        // paid exactly once here.
        import graft.operators.VectorOps
        val ivf = {
          var m: VectorOps.IvfModel = null
          val t = timed("ivf_model") {
            m = VectorOps.ivfModel(ee, "vec_id", "embedding",
              col("vec_id").between(8, 15), 3, 64)
            m.cells.count() // materialize the persisted index
          }
          deployEntries += "ivf_model" -> t
          m
        }
        deployEntries += "knn_ivf_kmeans" -> timed("knn_ivf_kmeans")(
          VectorOps.knnIvfKmeansFrom(ivf, ee, "vec_id",
            col("vec_id") < 8, 5, 3).count())
        deployEntries += "ann_recall_ivf" -> timed("ann_recall_ivf")(
          graft.queries.PipelineQueries.annRecall(
            VectorOps.knnIvfKmeansFrom(ivf, ee, "vec_id",
              col("vec_id") < 8, 5, 3), ee).count())
        // Semantic dedup: the deployable artifact is the CLUSTER TABLE
        // (like dedup_model's) — the within-cell pair join + component
        // collapse is the model build; consumers read the persisted
        // labels.
        val sem = {
          var c: org.apache.spark.sql.DataFrame = null
          val t = timed("semdedup_model") {
            c = VectorOps.semDedupClustersFrom(ivf, ee, "vec_id", 0.35)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            c.count()
          }
          deployEntries += "semdedup_model" -> t
          c
        }
        deployEntries += "semdedup_keep_list" -> timed("semdedup_keep_list")(
          sem.filter(col("doc_id") === col("cluster")).count())
        deployEntries += "semdedup_cluster_sizes" -> timed("semdedup_cluster_sizes")(
          sem.groupBy("cluster").agg(count(lit(1))).count())
        sem.unpersist(blocking = false)
        val pq = {
          var m: VectorOps.IvfPqModel = null
          val t = timed("ivfpq_model") {
            m = VectorOps.ivfPqModel(ivf, 2, 4)
            m.coded.count() // materialize the persisted codes
          }
          deployEntries += "ivfpq_model" -> t
          m
        }
        deployEntries += "knn_ivfpq" -> timed("knn_ivfpq")(
          VectorOps.knnIvfPqFrom(pq, ee, "vec_id",
            col("vec_id") < 8, 5, 3).count())
        deployEntries += "ann_recall_ivfpq" -> timed("ann_recall_ivfpq")(
          graft.queries.PipelineQueries.annRecall(
            VectorOps.knnIvfPqFrom(pq, ee, "vec_id",
              col("vec_id") < 8, 5, 3), ee).count())
        val pqr = {
          var m: VectorOps.IvfPqResModel = null
          val t = timed("ivfpq_res_model") {
            m = VectorOps.ivfPqResidualModel(ivf, 2, 4)
            m.coded.count()
          }
          deployEntries += "ivfpq_res_model" -> t
          m
        }
        deployEntries += "ann_recall_ivfpq_res" -> timed("ann_recall_ivfpq_res")(
          graft.queries.PipelineQueries.annRecall(
            VectorOps.knnIvfPqResidualFrom(pqr, ee, "vec_id",
              col("vec_id") < 8, 5, 3), ee).count())
        // Refined search off the SAME persisted model (round 17): the
        // serving-path number — ADC over the persisted codes + the exact
        // refine of the top-20 pool (the gate's RrCand), no train/encode.
        // The marginal cost over ann_recall_ivfpq_res IS the refine stage.
        deployEntries += "knn_ivfpq_rerank" -> timed("knn_ivfpq_rerank")(
          VectorOps.knnIvfPqResidualRerankFrom(pqr, ee, "vec_id",
            "embedding", col("vec_id") < 8, 5, 3, 20).count())
        deployEntries += "ann_recall_ivfpq_rr" -> timed("ann_recall_ivfpq_rr")(
          graft.queries.PipelineQueries.annRecall(
            VectorOps.knnIvfPqResidualRerankFrom(pqr, ee, "vec_id",
              "embedding", col("vec_id") < 8, 5, 3, 20), ee).count())
        graft.operators.DedupOps.unpersistPipelines()
        // kNN-GRAPH family: the similarity graph is built ONCE (the cost
        // every graph_* gate pays from scratch) and the persisted edge
        // list feeds each algorithm consumer — what remains per consumer
        // is the algorithm itself (iteration rounds, wedge closure).
        // r14 cut that honest cost at this scale: fixed-round PageRank
        // composes its 5 rounds into ONE job (9.5 → 1.1 s) and the
        // component collapse's single-shot 10.7 s was mostly box noise
        // (min-of-2 reads ~3.6 s — ~8 checkpointed rounds of real work).
        val kgEdges = {
          var e: org.apache.spark.sql.DataFrame = null
          val t = timed("kgraph_model") {
            e = VectorOps.knnGraph(ee, "vec_id", "embedding", 3, 4, 4, 64)
              .select(col("qid").as("src"), col("nid").as("dst"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            e.count()
          }
          deployEntries += "kgraph_model" -> t
          e
        }
        deployEntries += "graph_degrees" -> timed("graph_degrees")(
          kgEdges.groupBy("src").agg(count(lit(1)).as("deg"))
            .groupBy("deg").agg(count(lit(1))).count())
        deployEntries += "graph_pagerank" -> timed("graph_pagerank")(
          graft.operators.GraphOps.pageRank(kgEdges, 5).count())
        deployEntries += "graph_triangles" -> timed("graph_triangles")(
          graft.operators.GraphOps.triangles(kgEdges).count())
        deployEntries += "graph_components" -> timed("graph_components")(
          graft.operators.DedupOps.nearDupClusters(
              ee.select(col("vec_id")), "vec_id",
              kgEdges.select(col("src").as("id_a"), col("dst").as("id_b")))
            .groupBy("cluster").agg(count(lit(1))).count())
        kgEdges.unpersist(blocking = false)
        graft.operators.DedupOps.unpersistPipelines()
        // Fuzzy-pair family: ONE shingle pass + PPJoin pair graph (+ the
        // estimator signature table) shared by the contamination rollup
        // and the estimator-accuracy readout.
        val fm = {
          var m: graft.operators.DedupOps.FuzzyPairModel = null
          val t = timed("jaccard_model") {
            m = graft.operators.DedupOps.fuzzyPairModel(
              dd, "doc_id", 3, 1, 2, 36)
            // Materialize BOTH persisted artifacts inside the build
            // timing: sigs used to materialize lazily under the first
            // consumer, so "minhash_sigs" read ~4 s of BUILD cost as if
            // it were a consumer cost (r13 deploy map) — the model entry
            // is where that time honestly belongs.
            m.pairs.count(); m.sigs.count()
          }
          deployEntries += "jaccard_model" -> t
          m
        }
        deployEntries += "minhash_sigs" -> timed("minhash_sigs")(fm.sigs.count())
        deployEntries += "dedup_source_matrix" -> timed("dedup_source_matrix")(
          graft.operators.DedupOps.sourcePairMatrix(
            fm.pairs, dd, "doc_id", "source").count())
        deployEntries += "minhash_est" -> timed("minhash_est")(
          graft.operators.DedupOps.minhashEstimatesFrom(
            fm.pairs, fm.sigs).count())
        graft.operators.DedupOps.unpersistPipelines()
        // Retrieval family: ONE tokenize+shuffle pass builds the inverted
        // index (posting table + doc lengths + corpus stats); BM25,
        // conjunctive search, the postings browse artifact, and the RRF
        // hybrid all reuse it.
        val im = {
          var m: graft.operators.IndexOps.IndexModel = null
          val t = timed("idx_model") {
            m = graft.operators.IndexOps.indexModel(dd, "doc_id")
            m.td.count(); m.dl.count() // materialize the index
          }
          deployEntries += "idx_model" -> t
          m
        }
        val probeTerms = Seq("spark", "vector", "hash")
        deployEntries += "idx_bm25" -> timed("idx_bm25")(
          graft.operators.IndexOps.bm25From(im, probeTerms, 20).count())
        deployEntries += "idx_search" -> timed("idx_search")(
          graft.operators.IndexOps.conjunctiveFrom(im, probeTerms, 2L).count())
        deployEntries += "idx_postings" -> timed("idx_postings")(
          graft.operators.IndexOps.postingsFrom(im, 300L, 5).count())
        deployEntries += "search_rrf" -> timed("search_rrf") {
          val lex = graft.operators.IndexOps.bm25From(im, probeTerms, 20)
            .select(col("doc_id").as("id"), col("rnk"))
          val sem = graft.operators.VectorOps.knnBrute(ee, "vec_id",
              "embedding", col("vec_id") === 0, 20)
            .select(col("nid").as("id"), col("rnk"))
          graft.operators.IndexOps.rrfFuse(Seq(lex, sem), "id", "rnk", 10)
            .count()
        }
        // Decontamination family: the Bloom bitset of the eval suite is
        // built ONCE (≤ 65536 ints of driver state, however large the
        // suite grows) and applied per training corpus.
        val blm = {
          var m: graft.operators.BloomOps.BloomModel = null
          val t = timed("bloom_model") {
            m = graft.operators.BloomOps.bloomModel(
              dd.filter(col("source") === "src0"), 8)
          }
          deployEntries += "bloom_model" -> t
          m
        }
        deployEntries += "bloom_apply" -> timed("bloom_apply")(
          graft.operators.BloomOps.applyBloom(blm,
            dd.filter(col("source") =!= "src0"), "doc_id").count())
        // Multimodal fingerprint family: decode + fingerprint ONCE into
        // the persisted hash-class table (the value-space-bounded
        // artifact every mm_audiohash_* gate rebuilds from the raw
        // blobs); census, Hamming pairing, and the cluster collapse all
        // reuse it.
        val mmSegs = 16 // the mm_audiohash gates' segment count
        val mmClasses = {
          import graft.operators.MultimodalOps._
          var c: org.apache.spark.sql.DataFrame = null
          val t = timed("mm_model") {
            c = dd
              .select(wavFingerprint8(
                wavBlob(lit(8000), lit(1), lit(8), asBlob(col("text"))),
                mmSegs).as("p"))
              .filter(col("p.fp").isNotNull)
              .groupBy(col("p.fp").as("h")).agg(count(lit(1)).as("cnt"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            c.count()
          }
          deployEntries += "mm_model" -> t
          c
        }
        deployEntries += "mm_audiohash" -> timed("mm_audiohash")(
          mmClasses.groupBy(col("cnt").as("sz"))
            .agg(count(lit(1)).as("n_buckets")).count())
        deployEntries += "mm_audiohash_pairs" -> timed("mm_audiohash_pairs")(
          graft.operators.DedupOps.hammingPairs(
            mmClasses.select(col("h").as("id"), col("h")),
            mmSegs, 2, 4).count())
        deployEntries += "mm_audiohash_clusters" -> timed("mm_audiohash_clusters")(
          graft.operators.DedupOps.smallNearDupClusters(
            mmClasses.select(col("h")), "h",
            graft.operators.DedupOps.hammingPairs(
              mmClasses.select(col("h").as("id"), col("h")),
              mmSegs, 2, 4)).count())
        mmClasses.unpersist(blocking = false)

        // SKYLINE family deploy shape (round 15): materialize the onion
        // layers ONCE per dim set, then every consumer is a point-table
        // join + one corpus scan — the sky* gates re-peel per query by
        // gate-independence design; a deployment runs this. Two models
        // because the gates use two dim sets: 2D full lineitem
        // (layers + topdom), 3D 5%-sample (skyband).
        val liSky = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val sky2 = {
          var model: graft.operators.SkylineOps.SkylineModel = null
          val t = timed("sky_model") {
            model = graft.operators.SkylineOps.skylineModel(
              liSky, Seq("l_quantity", "l_extendedprice"), 2)
            model.pts.count() // materialize the point table
          }
          deployEntries += "sky_model" -> t
          model
        }
        deployEntries += "sky_layers" -> timed("sky_layers")(
          graft.operators.SkylineOps.layerRowsFrom(sky2, liSky).count())
        deployEntries += "sky_topdom" -> timed("sky_topdom")(
          graft.operators.SkylineOps.topDominatingFrom(sky2, liSky, 10).count())
        val sky3 = {
          var model: graft.operators.SkylineOps.SkylineModel = null
          val t = timed("sky3_model") {
            model = graft.operators.SkylineOps.skylineModel(
              liSky.filter(col("l_orderkey") % 20 === 0),
              Seq("l_quantity", "l_extendedprice", "l_discount"), 3)
            model.pts.count()
          }
          deployEntries += "sky3_model" -> t
          model
        }
        deployEntries += "sky_skyband" -> timed("sky_skyband")(
          graft.operators.SkylineOps.skybandRowsFrom(sky3,
            liSky.filter(col("l_orderkey") % 20 === 0), 3).count())
        graft.core.Caches.releaseAll()
      } catch { case e: Throwable =>
        System.err.println(s"[graft.Bench] deploy lane: ${e.getMessage}")
      } finally {
        graft.operators.DedupOps.unpersistPipelines()
        spark.catalog.clearCache()
      }
      (deployEntries.toSeq, causes.toMap)
    }
    // Defensive parse: a malformed knob after the full gate run must not
    // throw away the gate results ("the lane must never take down the
    // gate bench").
    val deployN =
      if (sys.env.getOrElse("SPARK_GRAFT_DEPLOY", "1") == "0") 0
      else sys.env.get("SPARK_GRAFT_DEPLOY_N").flatMap(_.toIntOption)
        .getOrElse(2).max(1)
    val deployRuns = (1 to deployN).map(_ => runDeployLane())
    // Min per entry across passes, keyed in first-pass order; an entry a
    // failed pass never reached degrades to the passes that have it. A -1
    // guard sentinel must not win the min (it would mask a pass that
    // completed): the min runs over successful samples, and only an entry
    // with NO successful pass keeps the sentinel — and lands in `errors`
    // as "deploy:<name>:<cause>" (one per distinct cause across passes,
    // "timeout" or "error") so a breach is visible without diffing the map
    // and is told apart from a crash without scraping stderr.
    val deployKeys = deployRuns.flatMap(_._1.map(_._1)).distinct
    val deployMin = deployRuns.flatMap(_._1).groupBy(_._1).map { case (k, vs) =>
      val ok = vs.map(_._2).filter(_ >= 0)
      k -> (if (ok.nonEmpty) ok.min else -1.0)
    }
    deployKeys.filter(deployMin(_) < 0).foreach { k =>
      deployRuns.flatMap(_._2.get(k)).distinct
        .foreach(cause => errors += s"deploy:$k:$cause")
    }
    // `errors` is final only after BOTH lanes have run.
    val errs = errors.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
    val deploy = deployKeys
      .map { k => f""""$k":${deployMin(k)}%.3f""" }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"first":$fs,"n":$ns,"sf":"$sfDir","errors":$errs,"deploy":$deploy,"deploy_n":$deployN}"""
    // Emit BOTH ways: bare on stdout, and to a file — sbt prefixes stdout
    // with [info], which defeats line-oriented JSON parsing downstream.
    println(line)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_out.json")), line)
    spark.stop()
  }
}
