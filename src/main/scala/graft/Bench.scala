package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional comma-separated query filter for local iteration; the driver
    // leaves it unset and measures everything. An unknown name fails here,
    // before any query runs, instead of silently shrinking the total.
    val names = SparkEntry.select(sys.env.getOrElse("SPARK_GRAFT_ONLY", "")).sorted
    val spark = GraftSession(GraftSession.cpus(4))
    // Warm-up: JVM/codegen/scan setup lands here, not on whichever query
    // happens to run first.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    // Per-query time budget: a breach records the -1 sentinel + an errors
    // entry and the bench MOVES ON — one pathological query must never
    // again turn a green round into a driver-level rc=124 with no
    // per-query data (round 10's failure mode). 150 s default covers the
    // slowest legitimate query at sf0.1 by ~30× while still bounding the
    // worst case of the whole run.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_BUDGET_SEC", "150").toDouble
    val queries = SparkEntry.queries
    val results = names.map { name =>
      val fn = queries(name)
      // A query that crashes or breaches its budget must not measure as
      // FAST (an aborted job returns in milliseconds and would flatter the
      // total): record a -1 sentinel and surface "<name>:<cause>" in an
      // "errors" field instead, the cause being "timeout" or "error".
      val causes = scala.collection.mutable.LinkedHashSet.empty[String]
      def once(): Double = {
        val (dt, cause) = BenchGuard.timedCause(spark, s"bench-$name", budgetSec,
          onTimeout = msg => System.err.println(s"[graft.Bench] $msg")) {
          fn(spark, sfDir).count(); ()
        }
        cause.foreach(causes += _)
        // Queries that persist intermediates (dedup LSH) would otherwise leak
        // cached partitions into every later measurement.
        graft.core.Caches.releaseAll()
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
      // -1 sentinel and "<name>:<cause>" in `errors` (one per distinct cause
      // among the failed attempts).
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
      if (best < 0) causes.foreach(c => errors += s"$name:$c")
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
      // lane moves on.
      def timed(name: String)(body: => Unit): Double = {
        val (dt, cause) = BenchGuard.timedCause(spark, s"deploy-$name", budgetSec,
          onTimeout = msg => System.err.println(s"[graft.Bench] $msg"))(body)
        cause.foreach(causes(name) = _)
        dt
      }
      def entry(name: String)(body: => Unit): Unit =
        deployEntries += name -> timed(name)(body)
      def skip(name: String): Unit = {
        causes(name) = "skipped"
        deployEntries += name -> -1.0
      }
      // A model build yields its model only when it finished within budget.
      // On a breach or a crash the model is dropped (the half-built, lazily
      // persisted one would otherwise be rebuilt inside the first
      // consumer's budget and read as consumer time), and every entry that
      // needs it records its own -1 sentinel with cause "skipped" without
      // running.
      def build[M](name: String, needs: Option[Any]*)(make: => M)(
          materialize: M => Unit): Option[M] =
        if (needs.exists(_.isEmpty)) { skip(name); None }
        else {
          @volatile var built: Option[M] = None
          val t = timed(name) { val m = make; materialize(m); built = Some(m) }
          deployEntries += name -> t
          if (t < 0) None else built
        }
      def consume[M](name: String, m: Option[M])(body: M => Unit): Unit =
        m match {
          case Some(v) => entry(name)(body(v))
          case None => skip(name)
        }
      // Guard self-test knob: a deliberately-unfinishable entry proves the
      // degrade path (sentinel + completed JSON line) without touching any
      // real operator. Never set by the driver.
      if (sys.env.get("SPARK_GRAFT_DEPLOY_HANG").contains("1"))
        entry("deploy_hang_probe") {
          import org.apache.spark.sql.functions.{sum, xxhash64}
          spark.range(Long.MaxValue).agg(sum(xxhash64(col("id")))).count(); ()
        }
      try {
        val dd = spark.read.parquet(s"$sfDir/documents.parquet")
        val m = build("dedup_model")(graft.operators.DedupOps.nearDupModel(
            dd, "doc_id", 3, 12, 3, 1, 2)) { model =>
          model.pairs.count(); model.clusters.count() // materialize caches
        }
        consume("dedup_pairs", m)(_.pairs.count())
        consume("dedup_clusters", m)(_.clusters.count())
        consume("dedup_cluster_sizes", m)(
          _.clusters.groupBy("cluster").agg(count(lit(1))).count())
        consume("dedup_keep_list", m)(
          _.clusters.filter(col("doc_id") === col("cluster")).count())
        graft.core.Caches.releaseAll()
        val bm = build("bpe_model")(graft.operators.BpeOps.bpeModel(dd, 8))(
          _.words.count()) // materialize the segmented word cache
        consume("bpe_merges", bm)(graft.operators.BpeOps.mergesOf(_).count())
        consume("bpe_vocab", bm)(graft.operators.BpeOps.vocabOf(_).count())
        consume("bpe_doc_tokens", bm)(
          graft.operators.BpeOps.docTokensOf(_, dd, "doc_id").count())
        // k-means family: train+assign once (the gate-independence cost
        // every emb_kmeans-chain gate pays from scratch), then time the
        // cell consumers reusing the persisted assignment.
        val ee = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val asg = build("kmeans_model")(graft.operators.VectorOps.kmeansAssign(
            ee, "vec_id", "embedding", col("vec_id").between(8, 15), 3, 64)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))(_.count())
        consume("kmeans_cells", asg)(_.groupBy("cid").agg(count(lit(1))).count())
        consume("kmeans_sample", asg)(
          graft.operators.VectorOps.clusterBalancedSampleFrom(_, 10).count())
        asg.foreach(_.unpersist(blocking = false))
        // ANN family: ONE trained coarse quantizer (+ PQ codebooks, + the
        // residual books) shared by every search / recall / semantic-dedup
        // consumer — the re-training cost each gate pays from scratch is
        // paid exactly once here.
        import graft.operators.VectorOps
        val ivf = build("ivf_model")(VectorOps.ivfModel(ee, "vec_id", "embedding",
            col("vec_id").between(8, 15), 3, 64))(
          _.cells.count()) // materialize the persisted index
        consume("knn_ivf_kmeans", ivf)(VectorOps.knnIvfKmeansFrom(_, ee, "vec_id",
          col("vec_id") < 8, 5, 3).count())
        consume("ann_recall_ivf", ivf)(i => graft.queries.PipelineQueries.annRecall(
          VectorOps.knnIvfKmeansFrom(i, ee, "vec_id",
            col("vec_id") < 8, 5, 3), ee).count())
        // Semantic dedup: the deployable artifact is the CLUSTER TABLE
        // (like dedup_model's) — the within-cell pair join + component
        // collapse is the model build; consumers read the persisted
        // labels.
        val sem = build("semdedup_model", ivf)(
            VectorOps.semDedupClustersFrom(ivf.get, ee, "vec_id", 0.35)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))(
          _.count())
        consume("semdedup_keep_list", sem)(
          _.filter(col("doc_id") === col("cluster")).count())
        consume("semdedup_cluster_sizes", sem)(
          _.groupBy("cluster").agg(count(lit(1))).count())
        sem.foreach(_.unpersist(blocking = false))
        val pq = build("ivfpq_model", ivf)(VectorOps.ivfPqModel(ivf.get, 2, 4))(
          _.coded.count()) // materialize the persisted codes
        consume("knn_ivfpq", pq)(VectorOps.knnIvfPqFrom(_, ee, "vec_id",
          col("vec_id") < 8, 5, 3).count())
        consume("ann_recall_ivfpq", pq)(p => graft.queries.PipelineQueries.annRecall(
          VectorOps.knnIvfPqFrom(p, ee, "vec_id", col("vec_id") < 8, 5, 3), ee).count())
        val pqr = build("ivfpq_res_model", ivf)(
          VectorOps.ivfPqResidualModel(ivf.get, 2, 4))(_.coded.count())
        consume("ann_recall_ivfpq_res", pqr)(p => graft.queries.PipelineQueries.annRecall(
          VectorOps.knnIvfPqResidualFrom(p, ee, "vec_id",
            col("vec_id") < 8, 5, 3), ee).count())
        // Refined search off the SAME persisted model (round 17): the
        // serving-path number — ADC over the persisted codes + the exact
        // refine of the top-20 pool (the gate's RrCand), no train/encode.
        // The marginal cost over ann_recall_ivfpq_res IS the refine stage.
        consume("knn_ivfpq_rerank", pqr)(VectorOps.knnIvfPqResidualRerankFrom(_, ee,
          "vec_id", "embedding", col("vec_id") < 8, 5, 3, 20).count())
        consume("ann_recall_ivfpq_rr", pqr)(p => graft.queries.PipelineQueries.annRecall(
          VectorOps.knnIvfPqResidualRerankFrom(p, ee, "vec_id",
            "embedding", col("vec_id") < 8, 5, 3, 20), ee).count())
        graft.core.Caches.releaseAll()
        // kNN-GRAPH family: the similarity graph is built ONCE (the cost
        // every graph_* gate pays from scratch) and the persisted edge
        // list feeds each algorithm consumer — what remains per consumer
        // is the algorithm itself (iteration rounds, wedge closure).
        // r14 cut that honest cost at this scale: fixed-round PageRank
        // composes its 5 rounds into ONE job (9.5 → 1.1 s) and the
        // component collapse's single-shot 10.7 s was mostly box noise
        // (min-of-2 reads ~3.6 s — ~8 checkpointed rounds of real work).
        val kgEdges = build("kgraph_model")(
            VectorOps.knnGraph(ee, "vec_id", "embedding", 3, 4, 4, 64)
              .select(col("qid").as("src"), col("nid").as("dst"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))(
          _.count())
        consume("graph_degrees", kgEdges)(_.groupBy("src").agg(count(lit(1)).as("deg"))
          .groupBy("deg").agg(count(lit(1))).count())
        consume("graph_pagerank", kgEdges)(
          graft.operators.GraphOps.pageRank(_, 5).count())
        consume("graph_triangles", kgEdges)(
          graft.operators.GraphOps.triangles(_).count())
        consume("graph_components", kgEdges)(e =>
          graft.operators.DedupOps.nearDupClusters(
              ee.select(col("vec_id")), "vec_id",
              e.select(col("src").as("id_a"), col("dst").as("id_b")))
            .groupBy("cluster").agg(count(lit(1))).count())
        kgEdges.foreach(_.unpersist(blocking = false))
        graft.core.Caches.releaseAll()
        // Fuzzy-pair family: ONE shingle pass + PPJoin pair graph (+ the
        // estimator signature table) shared by the contamination rollup
        // and the estimator-accuracy readout.
        val fm = build("jaccard_model")(graft.operators.DedupOps.fuzzyPairModel(
            dd, "doc_id", 3, 1, 2, 36)) { m =>
          // Materialize BOTH persisted artifacts inside the build
          // timing: sigs used to materialize lazily under the first
          // consumer, so "minhash_sigs" read ~4 s of BUILD cost as if
          // it were a consumer cost (r13 deploy map) — the model entry
          // is where that time honestly belongs.
          m.pairs.count(); m.sigs.count()
        }
        consume("minhash_sigs", fm)(_.sigs.count())
        consume("dedup_source_matrix", fm)(m => graft.operators.DedupOps
          .sourcePairMatrix(m.pairs, dd, "doc_id", "source").count())
        consume("minhash_est", fm)(m => graft.operators.DedupOps
          .minhashEstimatesFrom(m.pairs, m.sigs).count())
        graft.core.Caches.releaseAll()
        // Retrieval family: ONE tokenize+shuffle pass builds the inverted
        // index (posting table + doc lengths + corpus stats); BM25,
        // conjunctive search, the postings browse artifact, and the RRF
        // hybrid all reuse it.
        val im = build("idx_model")(graft.operators.IndexOps.indexModel(dd, "doc_id")) {
          m => m.td.count(); m.dl.count() // materialize the index
        }
        val probeTerms = Seq("spark", "vector", "hash")
        consume("idx_bm25", im)(
          graft.operators.IndexOps.bm25From(_, probeTerms, 20).count())
        consume("idx_search", im)(
          graft.operators.IndexOps.conjunctiveFrom(_, probeTerms, 2L).count())
        consume("idx_postings", im)(
          graft.operators.IndexOps.postingsFrom(_, 300L, 5).count())
        consume("search_rrf", im) { m =>
          val lex = graft.operators.IndexOps.bm25From(m, probeTerms, 20)
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
        val blm = build("bloom_model")(graft.operators.BloomOps.bloomModel(
          dd.filter(col("source") === "src0"), 8))(_ => ())
        consume("bloom_apply", blm)(graft.operators.BloomOps.applyBloom(_,
          dd.filter(col("source") =!= "src0"), "doc_id").count())
        // Multimodal fingerprint family: decode + fingerprint ONCE into
        // the persisted hash-class table (the value-space-bounded
        // artifact every mm_audiohash_* gate rebuilds from the raw
        // blobs); census, Hamming pairing, and the cluster collapse all
        // reuse it.
        val mmSegs = 16 // the mm_audiohash gates' segment count
        val mmClasses = {
          import graft.operators.MultimodalOps._
          build("mm_model")(dd
            .select(wavFingerprint8(
              wavBlob(lit(8000), lit(1), lit(8), asBlob(col("text"))),
              mmSegs).as("p"))
            .filter(col("p.fp").isNotNull)
            .groupBy(col("p.fp").as("h")).agg(count(lit(1)).as("cnt"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))(_.count())
        }
        consume("mm_audiohash", mmClasses)(_.groupBy(col("cnt").as("sz"))
          .agg(count(lit(1)).as("n_buckets")).count())
        consume("mm_audiohash_pairs", mmClasses)(c =>
          graft.operators.DedupOps.hammingPairs(
            c.select(col("h").as("id"), col("h")), mmSegs, 2, 4).count())
        consume("mm_audiohash_clusters", mmClasses)(c =>
          graft.operators.DedupOps.nearDupClusters(
            c.select(col("h")), "h",
            graft.operators.DedupOps.hammingPairs(
              c.select(col("h").as("id"), col("h")), mmSegs, 2, 4)).count())
        mmClasses.foreach(_.unpersist(blocking = false))

        // SKYLINE family deploy shape (round 15): materialize the onion
        // layers ONCE per dim set, then every consumer is a point-table
        // join + one corpus scan — the sky* gates re-peel per query by
        // gate-independence design; a deployment runs this. Two models
        // because the gates use two dim sets: 2D full lineitem
        // (layers + topdom), 3D 5%-sample (skyband).
        val liSky = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val sky2 = build("sky_model")(graft.operators.SkylineOps.skylineModel(
            liSky, Seq("l_quantity", "l_extendedprice"), 2))(
          _.pts.count()) // materialize the point table
        consume("sky_layers", sky2)(
          graft.operators.SkylineOps.layerRowsFrom(_, liSky).count())
        consume("sky_topdom", sky2)(
          graft.operators.SkylineOps.topDominatingFrom(_, liSky, 10).count())
        val sky3 = build("sky3_model")(graft.operators.SkylineOps.skylineModel(
            liSky.filter(col("l_orderkey") % 20 === 0),
            Seq("l_quantity", "l_extendedprice", "l_discount"), 3))(_.pts.count())
        consume("sky_skyband", sky3)(graft.operators.SkylineOps.skybandRowsFrom(_,
          liSky.filter(col("l_orderkey") % 20 === 0), 3).count())
      } catch { case e: Throwable =>
        System.err.println(s"[graft.Bench] deploy lane: ${e.getMessage}")
      } finally {
        graft.core.Caches.releaseAll()
        spark.catalog.clearCache()
      }
      (deployEntries.toSeq, causes.toMap)
    }
    // Defensive parse: a malformed knob after the full gate run must not
    // throw away the gate results ("the lane must never take down the
    // gate bench"). A SPARK_GRAFT_ONLY run measures only the gates it
    // names, so it skips the lane (~40 s at sf0.001) as well.
    val deployN =
      if (names.size < queries.size ||
          sys.env.getOrElse("SPARK_GRAFT_DEPLOY", "1") == "0") 0
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
