package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

/** Scan-level plan guards: filters must reach the parquet reader as
  * PushedFilters and projections must prune ReadSchema — the two
  * properties that decide whether a 100 TB scan reads 100 TB or a
  * fraction of it. A regression here (e.g. a filter rewritten into a
  * non-pushable expression, or a select widened to *) is invisible to
  * the correctness gates, so it is pinned as a plan assertion. */
class PlanShapeSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  // sparkPlan, not executedPlan: AQE wraps multi-exchange plans in an
  // adaptive root whose leaves are not yet the file scans. Cached
  // subtrees (persistTracked operators) are followed into the
  // InMemoryRelation's cached plan — the file scan that FILLS the cache
  // is the one whose pushdown/pruning matters.
  private def fileScans(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        fileScans(im.relation.cachedPlan)
      // A cached plan roots in its own leaf AdaptiveSparkPlanExec
      // (childless wrapper) — follow its input plan.
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.inputPlan)
    }.flatten

  private def scanMeta(df: org.apache.spark.sql.DataFrame): String =
    fileScans(df.queryExecution.sparkPlan).map(_.metadata)
      .map(m => s"PushedFilters=${m.getOrElse("PushedFilters", "")} " +
        s"ReadSchema=${m.getOrElse("ReadSchema", "")}").mkString("\n")

  test("equality filter + narrow select push down and prune the events scan") {
    val spark = TestSpark.spark
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"))
    val meta = scanMeta(df)
    assert(meta.contains("EqualTo(event_type,view)"), s"filter not pushed: $meta")
    assert(meta.contains("event_id") && meta.contains("user_id") &&
      !meta.contains("props"), s"columns not pruned: $meta")
  }

  test("range filter pushes down on the lineitem scan") {
    val spark = TestSpark.spark
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") < 10.0)
      .select(col("l_quantity"), col("l_discount"))
    val meta = scanMeta(df)
    assert(meta.contains("LessThan(l_quantity,10.0)"), s"filter not pushed: $meta")
    assert(!meta.contains("l_comment"), s"columns not pruned: $meta")
  }

  test("samp_weighted is a pruned scan into a global top-k (no sort, no window)") {
    val spark = TestSpark.spark
    val df = SparkEntry.queries("samp_weighted")(spark, sf)
    val plan = df.queryExecution.sparkPlan
    assert(plan.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"expected TakeOrderedAndProject:\n$plan")
    assert(plan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"global sort/window crept into the sample plan:\n$plan")
    val meta = scanMeta(df)
    assert(!meta.contains("lang") && !meta.contains("source"),
      s"columns not pruned: $meta")
  }

  test("model_stump prunes its scan to (text, n_chars)") {
    val spark = TestSpark.spark
    val df = SparkEntry.queries("model_stump")(spark, sf)
    val meta = scanMeta(df)
    assert(meta.contains("text") && meta.contains("n_chars") &&
      !meta.contains("lang") && !meta.contains("doc_id"),
      s"columns not pruned: $meta")
  }

  test("the skyline query's scan reads only its dimensions") {
    val spark = TestSpark.spark
    val df = SparkEntry.queries("sky2d")(spark, sf)
    val meta = scanMeta(df)
    // The one scan (the frontier aggregate's input) must read the two
    // dimension columns and nothing else.
    assert(meta.contains("l_extendedprice") && meta.contains("l_discount"),
      s"dims missing from scan: $meta")
    assert(!meta.contains("l_orderkey") && !meta.contains("l_comment"),
      s"sky2d scan reads beyond its dims: $meta")
  }

  test("MR skyline statistics plan one input scan and no join") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_extendedprice", "l_discount")
    val pid = graft.operators.SkylineOps.dimPartitionCol(
      array(dims.map(col): _*), 100000.0, 8)
    // The row-returning skyline operators answer from the aggregate too:
    // no second scan, no semi-join back to the input.
    Seq(
      "metricsJson" -> graft.operators.SkylineOps.metricsJson(li, dims, pid, 8, "1"),
      "partitionSkylineStatsFull" ->
        graft.operators.SkylineOps.partitionSkylineStatsFull(li, dims, pid),
      "skylineRows" -> graft.operators.SkylineOps.skylineRows(li, dims),
      "groupedSkylineRows" ->
        graft.operators.SkylineOps.groupedSkylineRows(li, Seq("l_returnflag"), dims),
      "mrSkylinePoints" -> graft.operators.SkylineOps.mrSkylinePoints(li, dims, pid),
      "frontier" -> graft.operators.SkylineOps.frontier(li, dims)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.sparkPlan
      assert(fileScans(plan).size == 1, s"$name must scan its input once:\n$plan")
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.isEmpty, s"$name plans a join:\n$plan")
      assert(!scanMeta(df).contains("l_comment"), s"$name scan reads beyond its dims")
    }
  }

  test("skylineRows and metricsJson run the native aggregate as one partial/final ObjectHashAggregate pair") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_extendedprice", "l_discount")
    val pid = graft.operators.SkylineOps.dimPartitionCol(
      array(dims.map(col): _*), 100000.0, 8)
    Seq(
      ("skylineRows", graft.operators.SkylineOps.skylineRows(li, dims),
        classOf[graft.functions.SkylineAggExpr]),
      ("metricsJson", graft.operators.SkylineOps.metricsJson(li, dims, pid, 8, "1"),
        classOf[graft.functions.SkylineStatsExpr])
    ).foreach { case (name, df, fn) =>
      // The initial adaptive plan: exchanges are in, and nothing has run.
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val aggs = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      }
      val modes = aggs.flatMap(_.aggregateExpressions.collect {
        case e if fn.isInstance(e.aggregateFunction) => e.mode
      })
      import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
      assert(aggs.size == 2 && modes == Seq(Final, Partial),
        s"$name: expected one partial/final ObjectHashAggregate pair:\n$plan")
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size == 1, s"$name plans ${exchanges.size} exchanges:\n$plan")
      assert(!plan.treeString.contains("ScalaAggregator") && plan.collect {
        case p => p.expressions.flatMap(_.collect {
          case s: org.apache.spark.sql.execution.aggregate.ScalaAggregator[_, _, _] => s
        })
      }.flatten.isEmpty, s"$name still wraps an Aggregator:\n$plan")
    }
  }

  test("skyline onion gates share one peel: bounded lineitem scans, no persist in layers/topdom") {
    // sky_layers, sky_skyband and sky_topdom answer from ONE onion peel
    // (k frontier scans over the anti-joined rest) plus one corpus scan.
    // Scans inside a persisted model are counted by following the cache,
    // once per cache read: sky_skyband's 3-layer peel (7 scans) is read
    // by both sides of the dominator join, plus the corpus scan. Layer
    // rows come from the point table, never from re-scanning each
    // layer's rest. Layers and top-dominating persist nothing.
    val spark = TestSpark.spark
    val budget = Map("sky_layers" -> 4, "sky_skyband" -> 15, "sky_topdom" -> 3)
    budget.foreach { case (name, maxScans) =>
      graft.core.Caches.scoped {
        val plan = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan
        val top = plan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        val scans = fileScans(plan)
        assert(scans.forall(_.relation.location.rootPaths
          .exists(_.toString.contains("lineitem"))), s"$name scans beyond lineitem")
        info(s"$name: ${scans.size} lineitem scans")
        assert(scans.size <= maxScans,
          s"$name plans ${scans.size} lineitem scans (> $maxScans):\n${top.treeString}")
        if (name != "sky_skyband") assert(top.collect {
          case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => i
        }.isEmpty, s"$name persists an intermediate:\n${top.treeString}")
      }
    }
  }

  test("zorder_layout reads exactly its two layout dimensions") {
    val spark = TestSpark.spark
    val df = SparkEntry.queries("zorder_layout")(spark, sf)
    val meta = scanMeta(df)
    assert(meta.contains("l_partkey") && meta.contains("l_orderkey"),
      s"layout dims missing: $meta")
    assert(!meta.contains("l_comment") && !meta.contains("l_quantity") &&
      !meta.contains("l_extendedprice"),
      s"z-key computation widened the scan: $meta")
  }

  test("evt_funnel pushes its step-type membership filter to the events scan") {
    val spark = TestSpark.spark
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = SparkEntry.queries("evt_funnel")(spark, sf)
    val meta = scanMeta(df)
    // Non-funnel event types (signup, error) must never leave the reader.
    assert(meta.contains("In(event_type"),
      s"step filter not pushed: $meta\n${df.queryExecution.sparkPlan.treeString}")
    assert(!meta.contains("props") && !meta.contains("value"),
      s"funnel scan reads beyond (user, ts, type): $meta")
    graft.core.Caches.releaseAll()
  }

  test("cdc_snapshot's per-key top-1 plans as WindowGroupLimit (shuffle carries ~|keys| rows)") {
    val spark = TestSpark.spark
    val df = SparkEntry.queries("cdc_snapshot")(spark, sf)
    val plan = df.queryExecution.sparkPlan.treeString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not rewritten to a group limit:\n$plan")
  }

  test("idx_postings' posting cap plans as WindowGroupLimit (hot tokens stay bounded)") {
    val spark = TestSpark.spark
    val df = SparkEntry.queries("idx_postings")(spark, sf)
    val plan = df.queryExecution.sparkPlan.treeString
    assert(plan.contains("WindowGroupLimit"),
      s"posting cap not rewritten to a group limit:\n$plan")
  }

  test("evt_outliers' fence table joins back by broadcast, not shuffle") {
    val spark = TestSpark.spark
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = SparkEntry.queries("evt_outliers")(spark, sf)
    val plan = df.queryExecution.sparkPlan.treeString
    assert(plan.contains("BroadcastHashJoin"),
      s"fence join not broadcast:\n$plan")
  }

  test("dq_profile: two pruned scans, hash-aggregated distincts, no expanded sort") {
    // r16 split: one plain-agg scan (empty-key fold) + one distinct-agg scan
    // (Expand → HashAggregate). The shape this pin guards against is the
    // r15 single-agg form, where string min/max buffers forced the WHOLE
    // multi-distinct aggregate to SortAggregate and sorted the ×5-expanded
    // corpus by its 5-part grouping key.
    val spark = TestSpark.spark
    val df = SparkEntry.queries("dq_profile")(spark, sf)
    val plan = df.queryExecution.sparkPlan
    val scans = fileScans(plan)
    assert(scans.length == 2, s"expected two lineitem scans, got ${scans.length}")
    val meta = scanMeta(df)
    assert(meta.contains("l_orderkey") && !meta.contains("l_comment") &&
      !meta.contains("l_extendedprice"),
      s"profile scan not pruned to its columns: $meta")
    // No SortExec anywhere: the Expand path must hash-aggregate and the
    // plain path's empty-key fold needs no ordering. Typed collects — the
    // old "Sort " substring match only avoided matching the (legitimate)
    // SortAggregate below by spacing luck. SortAggregate itself IS the
    // planned shape for the plain pass (string min/max buffers are not
    // hash-aggregatable), but only with EMPTY grouping keys, where it
    // degenerates to a single fold; a keyed SortAggregate would mean the
    // r15 expanded-corpus sort grew back.
    assert(plan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.isEmpty, s"profile plan re-grew a sort:\n${plan.treeString}")
    assert(plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec
          if a.groupingExpressions.nonEmpty => a
    }.isEmpty,
      s"profile plan grew a KEYED sort-aggregate:\n${plan.treeString}")
    assert(plan.treeString.contains("Expand"),
      "distinct counts are no longer exact-Expand planned — update this pin")
  }

  test("dedup_substr: no cartesian anywhere; the run twin adds NO exchange over coverage") {
    // The window-dedup pair: coverage has exactly two data exchanges (one
    // by span hash for the occurrence counts, one by doc_id for the
    // interval union — the dup semi-join broadcasts or reuses the hash
    // exchange, the final per-doc aggregate reuses the window's
    // partitioning), and the runs variant segments islands with window
    // passes over the SAME doc_id exchange, so its shuffle count must not
    // exceed coverage's. An accidental all-pairs join or a lost
    // partitioning reuse shows up here before it shows up at 100 TB.
    val spark = TestSpark.spark
    def shape(name: String): (Int, String) = {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan
      val tree = plan.treeString
      val exchanges = "(?m)^\\s*(?:\\+- |:- )?Exchange hashpartitioning".r
        .findAllIn(tree).length
      (exchanges, tree)
    }
    val (covEx, covTree) = shape("dedup_substr")
    val (runEx, runTree) = shape("dedup_substr_runs")
    assert(!covTree.contains("CartesianProduct") &&
      !runTree.contains("CartesianProduct"),
      "window dedup must never plan a cartesian join")
    assert(covEx <= 2, s"coverage grew extra shuffles ($covEx):\n$covTree")
    assert(runEx <= covEx,
      s"runs variant must reuse coverage's exchanges ($runEx > $covEx):\n$runTree")
  }

  test("dedup_boilerplate matches coverage's two-exchange budget (single sh-keyed dedup shuffle)") {
    // The doc-frequency variant dedups (doc_id, sh) before counting; the
    // explicit repartition by span hash must serve BOTH aggregates — a
    // regression to distinct-then-count re-shuffles the corpus-sized span
    // table by (doc_id, sh) first, a third full exchange at 100 TB.
    val spark = TestSpark.spark
    val plan = SparkEntry.queries("dedup_boilerplate")(spark, sf)
      .queryExecution.sparkPlan
    val tree = plan.treeString
    val exchanges = "(?m)^\\s*(?:\\+- |:- )?Exchange hashpartitioning".r
      .findAllIn(tree).length
    assert(!tree.contains("CartesianProduct"), "boilerplate planned a cartesian")
    assert(exchanges <= 2, s"boilerplate grew extra shuffles ($exchanges):\n$tree")
  }

  test("dedup_containment plans no cartesian product (prefix ⋈ postings stays keyed)") {
    val spark = TestSpark.spark
    val tree = SparkEntry.queries("dedup_containment")(spark, sf)
      .queryExecution.sparkPlan.treeString
    graft.core.Caches.releaseAll()
    assert(!tree.contains("CartesianProduct"),
      s"containment candidates must come from the shingle equi-join:\n$tree")
  }

  test("minhash/jaccard pair queries plan no cartesian (pair-expansion verify stays keyed)") {
    // The array-free verify joins candidates against shingle postings on
    // equi-keys end-to-end; a regression to an unkeyed join (or a lost
    // candidate key) would plan a cartesian and melt at corpus scale.
    val spark = TestSpark.spark
    Seq("dedup_minhash", "dedup_jaccard").foreach { name =>
      val tree = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan.treeString
      graft.core.Caches.releaseAll()
      assert(!tree.contains("CartesianProduct"), s"$name planned a cartesian:\n$tree")
    }
  }

  test("dedup_minhash reads text only: no shingle rows, no cache, one overlap per pair") {
    // Band keys explode from one native pass per document and each
    // candidate verifies against its two texts: no graft_shingles
    // generator, no persisted intermediate, and the overlap struct is
    // evaluated once (not re-inlined into the threshold filter). Shuffles
    // at this scale: the hot-bucket window's band-key exchange on each
    // self-join side (the same subtree, so AQE reuses one) and the
    // candidate distinct; the self-join and both text joins broadcast.
    val spark = TestSpark.spark
    // The executed plan (before any stage runs): exchanges are inserted.
    val plan = SparkEntry.queries("dedup_minhash")(spark, sf)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    val tree = plan.treeString
    graft.core.Caches.releaseAll()
    assert(!tree.contains("graft_shingles"), s"shingle rows are back:\n$tree")
    assert(plan.collect {
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => i
    }.isEmpty, s"dedup_minhash persisted an intermediate:\n$tree")
    assert("graft_shingle_overlap\\(".r.findAllIn(tree).length == 1,
      s"the overlap must be evaluated once per pair:\n$tree")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }.length
    assert(exchanges == 3, s"dedup_minhash exchange count moved ($exchanges):\n$tree")
  }

  // ---- Deploy-lane pins: shared-model CONSUMERS must read the persisted
  // model, never re-train. Structural assertions via SparkPlan.collect,
  // which does NOT descend into an InMemoryTableScan's cached plan — so
  // "no FileSourceScanExec / no WindowExec in the consumer plan" means the
  // consumer itself re-scans nothing and re-ranks nothing; the training
  // pipeline (scans, PPJoin prefix windows, probe windows) lives entirely
  // inside the cached model. A regression that silently re-trains per
  // consumer (the exact cost the deploy lane exists to avoid) re-surfaces
  // those nodes here before it shows up in BENCH_out's deploy map.

  private def consumerNodes(df: org.apache.spark.sql.DataFrame)
      : (Int, Int, Int, Int, String) = {
    val plan = df.queryExecution.sparkPlan
    val files = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.length
    val caches = plan.collect {
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => i }.length
    val wins = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.length
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }.length
    (files, caches, wins, shuffles, plan.treeString)
  }

  test("near-dup model consumers read the persisted pair graph (no re-shingle, no re-verify)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h", "s0"), (2L, "a b c d e f g x", "s0"),
      (3L, "p q r s t u v w", "s1"), (4L, "p q r s t u v y", "s1"),
      (5L, "z z z unrelated doc", "s2"))
      .toDF("doc_id", "text", "source")
    graft.core.Caches.scoped {
      val m = graft.operators.DedupOps.fuzzyPairModel(docs, "doc_id", 3, 1, 2, 8)
      m.pairs.count(); m.sigs.count() // materialize the model
      val matrix = graft.operators.DedupOps.sourcePairMatrix(
        m.pairs, docs, "doc_id", "source")
      val (f1, c1, w1, s1, t1) = consumerNodes(matrix)
      assert(c1 >= 1, s"source matrix must read the cached pair graph:\n$t1")
      assert(w1 == 0, s"source matrix re-ran a ranking window (PPJoin retrain?):\n$t1")
      assert(s1 <= 3, s"source matrix grew extra shuffles ($s1):\n$t1")
      val est = graft.operators.DedupOps.minhashEstimatesFrom(m.pairs, m.sigs)
      val (f2, c2, w2, _, t2) = consumerNodes(est)
      assert(c2 >= 2, s"estimator must read cached pairs AND sigs:\n$t2")
      assert(w2 == 0 && f2 == 0 && f1 == 0,
        s"estimator consumer re-derived model state:\n$t2")
      // keep-list over the banded model: a cache-read filter, zero shuffles.
      val nm = graft.operators.DedupOps.nearDupModel(docs, "doc_id", 3, 4, 2, 1, 2)
      nm.clusters.count()
      val keep = nm.clusters.filter(col("doc_id") === col("cluster"))
      val (f3, c3, w3, s3, t3) = consumerNodes(keep)
      assert(c3 >= 1 && f3 == 0 && w3 == 0 && s3 == 0,
        s"keep-list must be a pure filter over the cached clusters:\n$t3")
    }
  }

  test("IVF/PQ model consumers read the persisted index (no training scan in the search plan)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dims = 8
    val embs = (0L until 40L).map { i =>
      (i, Array.tabulate(dims)(j => ((i * 7 + j * 3) % 13 - 6).toFloat))
    }.toDF("vec_id", "embedding")
    graft.core.Caches.scoped {
      val ivf = graft.operators.VectorOps.ivfModel(
        embs, "vec_id", "embedding", col("vec_id").between(8, 11), 2, dims)
      ivf.cells.count() // materialize the index
      val search = graft.operators.VectorOps.knnIvfKmeansFrom(
        ivf, embs, "vec_id", col("vec_id") < 4, 3, 2)
      val (f1, c1, _, _, t1) = consumerNodes(search)
      assert(c1 >= 2, s"search must read the cached quant corpus AND cells:\n$t1")
      assert(f1 == 0, s"search re-scanned the corpus source:\n$t1")
      val pq = graft.operators.VectorOps.ivfPqModel(ivf, 1, 2)
      pq.coded.count()
      val pqSearch = graft.operators.VectorOps.knnIvfPqFrom(
        pq, embs, "vec_id", col("vec_id") < 4, 3, 2)
      val (f2, c2, _, _, t2) = consumerNodes(pqSearch)
      assert(c2 >= 2 && f2 == 0,
        s"ADC search must read cached quant + coded index only:\n$t2")
    }
  }

  test("k-means and BPE model consumers stay model-read-only") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dims = 8
    val embs = (0L until 40L).map { i =>
      (i, Array.tabulate(dims)(j => ((i * 5 + j) % 11 - 5).toFloat))
    }.toDF("vec_id", "embedding")
    graft.core.Caches.scoped {
      val asg = graft.operators.VectorOps.kmeansAssign(
          embs, "vec_id", "embedding", col("vec_id").between(8, 11), 2, dims)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        asg.count()
        val cells = asg.groupBy("cid").agg(count(lit(1)).as("n"))
        val (f1, c1, w1, s1, t1) = consumerNodes(cells)
        assert(c1 >= 1 && f1 == 0 && w1 == 0 && s1 <= 1,
          s"cell census must be one aggregate over the cached assignment:\n$t1")
      } finally asg.unpersist(blocking = false)
    }
    val docs = Seq((1L, "a b a b c"), (2L, "a b c d"), (3L, "b c d e"))
      .toDF("doc_id", "text")
    graft.core.Caches.scoped {
      val bm = graft.operators.BpeOps.bpeModel(docs, 4)
      bm.words.count()
      val vocab = graft.operators.BpeOps.vocabOf(bm)
      val (f2, c2, w2, _, t2) = consumerNodes(vocab)
      assert(c2 >= 1 && f2 == 0 && w2 == 0,
        s"vocab must aggregate the cached segmented words only:\n$t2")
    }
  }

  test("index model consumers read the persisted postings (no re-tokenize in the search plans)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "red blue red green"), (2L, "blue green"), (3L, "red red blue"),
      (4L, "green yellow"), (5L, "red blue"))
      .toDF("doc_id", "text")
    graft.core.Caches.scoped {
      val m = graft.operators.IndexOps.indexModel(docs, "doc_id")
      m.td.count(); m.dl.count() // materialize the index
      val bm = graft.operators.IndexOps.bm25From(m, Seq("red", "green"), 3)
      val (f1, c1, _, _, t1) = consumerNodes(bm)
      assert(c1 >= 2, s"BM25 must read cached postings AND lengths:\n$t1")
      assert(f1 == 0, s"BM25 consumer re-tokenized the corpus:\n$t1")
      val cj = graft.operators.IndexOps.conjunctiveFrom(m, Seq("red", "blue"))
      val (f2, c2, _, _, t2) = consumerNodes(cj)
      assert(c2 >= 1 && f2 == 0,
        s"conjunctive consumer must filter cached postings only:\n$t2")
    }
  }

  test("sampled-IVF search keeps the trained-IVF plan shape (centroid literals, no training join, no cartesian)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dims = 8
    val embs = (0L until 40L).map { i =>
      (i, Array.tabulate(dims)(j => ((i * 7 + j * 3) % 13 - 6).toFloat))
    }.toDF("vec_id", "embedding")
    graft.core.Caches.scoped {
      val search = graft.operators.VectorOps.knnIvfKmeansSampled(
        embs, "vec_id", "embedding", col("vec_id") < 4, 3,
        col("vec_id").between(8, 11), 2, 2, dims, sampleMod = 2)
      val plan = search.queryExecution.sparkPlan
      val cart = plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(cart.isEmpty, s"sampled search plans a cartesian:\n${plan.treeString}")
      // Centroids are plan literals: no join keyed on cell ids beyond the
      // broadcast probe join (same budget as knn_ivf_kmeans).
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.length
      assert(shuffles <= 4,
        s"sampled search grew extra shuffles ($shuffles):\n${plan.treeString}")
    }
  }

  test("knn_lsh_mp: broadcast probe join, no cartesian, rank as WindowGroupLimit") {
    // The multi-probe search must never shuffle the corpus for its
    // candidate join (the probe side is queries × tables × (1+flips)
    // rows — always broadcast) and the top-k must plan as a group limit;
    // a regression to a sort-merge corpus join or a full window sort is
    // the difference between seconds and hours at 10M vectors.
    val spark = TestSpark.spark
    val plan = graft.core.Caches.scoped {
      SparkEntry.queries("knn_lsh_mp")(spark, sf)
        .queryExecution.sparkPlan
    }
    val tree = plan.treeString
    assert(!tree.contains("CartesianProduct"),
      s"multi-probe candidates must come from the (t, bucket) equi-join:\n$tree")
    assert(tree.contains("WindowGroupLimit"),
      s"top-k must plan as a group limit:\n$tree")
    val smj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(smj.isEmpty,
      s"the corpus must never be shuffle-joined for candidates:\n$tree")
  }

  test("samp_cluster's per-cell cap plans as WindowGroupLimit (dense cells stay bounded)") {
    val spark = TestSpark.spark
    val tree = graft.core.Caches.scoped {
      SparkEntry.queries("samp_cluster")(spark, sf)
        .queryExecution.sparkPlan.treeString
    }
    assert(tree.contains("WindowGroupLimit"),
      s"cell cap not rewritten to a group limit:\n$tree")
    assert(tree.contains("BroadcastHashJoin"),
      s"cell-size table must join back by broadcast:\n$tree")
  }
}
