package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.TestSpark
import graft.core.PropHelpers

class DedupOpsSpec extends AnyFunSuite with PropHelpers {

  private def docsDF(rows: (Long, String)*) = {
    val spark = TestSpark.spark
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("shingleRows emits distinct word n-grams; short docs emit nothing") {
    val df = docsDF((1L, "a b c d c d"), (2L, "x y"))
    val got = DedupOps.shingleRows(df.withColumnRenamed("doc_id", "id0"), "id0", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // "c d c" appears once, "a b c"/"b c d"/"d c d" once each; doc 2 (<3 tokens) none
    assert(got == Set((1L, "a b c"), (1L, "b c d"), (1L, "c d c"), (1L, "d c d")))
  }

  test("minhashNearDups finds planted near-dups, skips dissimilar pairs, exact dups at J=1") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 38).map(i => s"tok$i") ++ Seq("zzz", "tok40")).mkString(" ")
    val far  = (100 to 140).map(i => s"other$i").mkString(" ")
    val df = docsDF((1L, base), (2L, near), (3L, far), (4L, base))
    val pairs = DedupOps.minhashNearDups(df, "doc_id", 3, 12, 3, 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)), s"near pair missing: $keys")
    assert(keys.contains((1L, 4L)) && keys.contains((2L, 4L)))
    assert(!keys.exists(p => p._1 == 3L || p._2 == 3L), "dissimilar doc paired")
    val exact = pairs.find(p => p._1 == 1L && p._2 == 4L).get
    assert(exact._3 == exact._4, "exact duplicate should have inter == union")

    // Size-skewed candidate: doc 6's shingles are a strict subset of doc
    // 5's (tokens 1..10 of 1..40), so single-row bands (r=1) collide them,
    // but their Jaccard 8/38 < 1/2 must fail the exact verify.
    val skew = docsDF(
      (5L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (6L, (1 to 10).map(i => s"tok$i").mkString(" ")),
      (7L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (8L, (100 to 130).map(i => s"other$i").mkString(" ")))
    val cand = DedupOps.minhashCandidates(skew, "doc_id", 3, 12, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((5L, 6L)),
      s"fixture must make the size-skewed pair a candidate: $cand")
    val verified = DedupOps.minhashNearDups(skew, "doc_id", 3, 12, 1, 1, 2, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(verified.toSeq == Seq((5L, 7L, 38L, 38L)),
      s"only the true dup pair verifies: ${verified.toSeq}")
  }

  test("jaccardNearDups (prefix-filtered) finds exactly the J >= 1/2 pairs") {
    // Brute-force expected pairs over distinct 3-gram shingle sets.
    val texts = Map(
      1L -> (1 to 40).map(i => s"tok$i").mkString(" "),
      2L -> ((1 to 38).map(i => s"tok$i") ++ Seq("zzz", "tok40")).mkString(" "),
      3L -> (100 to 140).map(i => s"other$i").mkString(" "),
      4L -> (1 to 40).map(i => s"tok$i").mkString(" "),
      // A doc built almost entirely of one hot shingle pattern: exercises
      // the hot-shingle path the prefix filter exists to tame.
      5L -> Seq.fill(30)("of the").flatMap(_.split(" ")).mkString(" "),
      6L -> (Seq.fill(28)("of the").flatMap(_.split(" ")) ++ Seq("x", "y")).mkString(" "))
    def sh(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length < 3) Set.empty
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val expected = (for {
      a <- texts.keys; b <- texts.keys if a < b
      sa = sh(texts(a)); sb = sh(texts(b))
      inter = (sa & sb).size; union = (sa | sb).size
      if union > 0 && inter * 2 >= union
    } yield (a, b, inter.toLong, union.toLong)).toSet
    val got = DedupOps.jaccardNearDups(
        docsDF(texts.toSeq.sortBy(_._1): _*), "doc_id", 3, 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("property: prefix-filtered Jaccard equals brute force on tiny-vocab corpora") {
    // A 6-word vocabulary forces extreme shingle sharing (every shingle is
    // "hot"), hammering exactly the path the prefix filter prunes.
    val docGen = Gen.listOfN(8, Gen.choose(3, 12).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.mkString(" "))))
    def sh(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length < 2) Set.empty else w.sliding(2).map(_.mkString(" ")).toSet
    }
    forAll(docGen, n = 12) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val expected = (for {
        (ta, a) <- texts.zipWithIndex; (tb, b) <- texts.zipWithIndex if a < b
        sa = sh(ta); sb = sh(tb)
        inter = (sa & sb).size; union = (sa | sb).size
        if union > 0 && inter * 3 >= union * 2
      } yield (a.toLong, b.toLong, inter.toLong, union.toLong)).toSet
      val got = DedupOps.jaccardNearDups(docsDF(rows: _*), "doc_id", 2, 2, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == expected, s"docs=$texts\ngot $got\nexpected $expected")
      graft.core.Caches.releaseAll()
    }
  }

  test("hot-bucket guard: cap drops only the degenerate cluster; default cap is a no-op") {
    // A planted cluster of m co-identical docs shares every band key, so the
    // uncapped candidate join pays C(m,2) pairs from it; a cap below m drops
    // exactly those pairs (linear candidate work) and leaves every pair
    // outside the hot buckets — the honest near-dup — untouched.
    val m = 10
    val clusterText = (1 to 30).map(i => s"cl$i").mkString(" ")
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 38).map(i => s"tok$i") ++ Seq("zzz", "tok40")).mkString(" ")
    val rows = Seq((1L, base), (2L, near)) ++
      (1 to m).map(i => (100L + i, clusterText))
    val df = docsDF(rows: _*)
    def run(cap: Int) = graft.core.Caches.scoped {
      DedupOps.minhashNearDups(df, "doc_id", 3, 12, 3, 1, 2, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val clusterPairs = (for {
      a <- 1 to m; b <- 1 to m if a < b
    } yield (100L + a, 100L + b)).toSet
    val uncapped = run(Int.MaxValue)
    assert(uncapped.contains((1L, 2L)) && clusterPairs.subsetOf(uncapped),
      s"uncapped set incomplete: $uncapped")
    val capped = run(m - 1)
    assert(capped == uncapped -- clusterPairs,
      s"cap must drop exactly the hot-cluster pairs:\ncapped $capped\nuncapped $uncapped")
    // The default cap sits far above any bucket here — output unchanged.
    assert(run(DedupOps.DefaultMaxBucket) == uncapped)
    // The inspection surface reports the dropped buckets: all 12 band keys
    // of the cluster, each holding exactly m signatures.
    val sig = DedupOps.bandedSignatures(
      DedupOps.rawShingleRows(df, "doc_id", 3), 12, 3)
    val hot = DedupOps.hotBuckets(sig, Seq("band", "h0", "h1", "h2"), m - 1)
      .collect().map(r => r.getAs[Long]("bsz"))
    graft.core.Caches.releaseAll()
    assert(hot.length == 12 && hot.forall(_ == m.toLong),
      s"expected 12 hot band buckets of size $m: ${hot.toSeq}")
  }

  test("hot-bucket guard on simhashNearDups: capped cluster out, near pair kept") {
    val m = 8
    val clusterText = (1 to 25).map(i => s"c$i").mkString(" ")
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = ((1 to 59).map(i => s"w$i") :+ "zzz").mkString(" ")
    val df = docsDF(Seq((1L, base), (2L, near)) ++
      (1 to m).map(i => (200L + i, clusterText)): _*)
    def run(cap: Int) = graft.core.Caches.scoped {
      DedupOps.simhashNearDups(df, "doc_id", 3, 6, xxhash64(_), cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val clusterPairs = (for {
      a <- 1 to m; b <- 1 to m if a < b
    } yield (200L + a, 200L + b)).toSet
    val uncapped = run(Int.MaxValue)
    assert(clusterPairs.subsetOf(uncapped))
    // Cap below the cluster size: every combination bucket it occupies is
    // dropped (the cluster occupies all 20), nothing else is.
    assert(run(m - 1) == uncapped -- clusterPairs)
  }

  test("incrementalDedup: exact copies and near-dups of the corpus drop, fresh docs survive") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 38).map(i => s"tok$i") ++ Seq("zzz", "tok40")).mkString(" ")
    val old = docsDF((1L, base), (2L, (100 to 140).map(i => s"old$i").mkString(" ")))
    val incoming = docsDF(
      (10L, base),                                         // exact copy → drop
      (11L, "  " + base.toUpperCase + "  "),               // normalized copy → drop
      (12L, near),                                         // near-dup (J ≥ 1/2) → drop
      (13L, (200 to 240).map(i => s"new$i").mkString(" ")), // fresh → survives
      (14L, "a b"))                                        // <3 tokens, fresh → survives
    val got = DedupOps.incrementalDedup(old, incoming, "doc_id", 3, 12, 3, 1, 2)
      .collect().map(_.getLong(0)).toSet
    graft.core.Caches.releaseAll()
    assert(got == Set(13L, 14L), s"got $got")
  }

  test("incrementalDedup does NOT dedup new-vs-new (contract: batch dedup is separate)") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val old = docsDF((1L, (50 to 80).map(i => s"o$i").mkString(" ")))
    val incoming = docsDF((10L, base), (11L, base)) // mutual dups, no old match
    val got = DedupOps.incrementalDedup(old, incoming, "doc_id", 3, 12, 3, 1, 2)
      .collect().map(_.getLong(0)).toSet
    graft.core.Caches.releaseAll()
    assert(got == Set(10L, 11L), s"got $got")
  }

  /** [[DedupOps.nearDupClusters]] on both of its paths: the default bound
    * (driver union-find at test sizes), then the bound forced to 0 (the
    * distributed loop for any non-empty pair table). Built one at a time,
    * so releasing one path's caches never frees the other's checkpoint. */
  private def bothPaths(docs: DataFrame, pairs: DataFrame): Iterator[DataFrame] =
    Iterator[() => DataFrame](() => DedupOps.nearDupClusters(docs, "doc_id", pairs),
      () => DedupOps.nearDupClusters(docs, "doc_id", pairs, 0)).map(_())

  /** Whether a cluster frame came from the distributed loop: only the loop
    * reads a checkpointed label table. */
  private def tookLoop(clusters: DataFrame): Boolean =
    clusters.queryExecution.analyzed.exists(_.isInstanceOf[LogicalRDD])

  test("nearDupClusters: min label propagates across chains; singletons keep their id") {
    val spark = TestSpark.spark
    import spark.implicits._
    // Pair graph: 1-5, 5-3 (chain -> cluster 1), 7-8 (cluster 7); 2 isolated.
    val docs = Seq(1L, 2L, 3L, 5L, 7L, 8L).toDF("doc_id")
    val pairs = Seq((1L, 5L), (3L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    for (clusters <- bothPaths(docs, pairs)) {
      val got = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.core.Caches.releaseAll()
      assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 5L -> 1L, 7L -> 7L, 8L -> 7L),
        s"loop path: ${tookLoop(clusters)}")
    }
  }

  test("property: nearDupClusters equals union-find on random pair graphs") {
    val spark = TestSpark.spark
    import spark.implicits._
    val edgeGen = Gen.listOfN(10,
      Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L)).suchThat(e => e._1 != e._2))
    forAll(edgeGen, n = 8) { edges =>
      val pairs = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // Reference: plain union-find over the same nodes.
      val parent = scala.collection.mutable.Map((0L to 11L).map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0L to 11L).map(i => i -> find(i)).toMap
      val docs = (0L to 11L).toDF("doc_id")
      for (clusters <- bothPaths(docs, pairs.toDF("id_a", "id_b"))) {
        val got = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        graft.core.Caches.releaseAll()
        assert(got == expected,
          s"loop path: ${tookLoop(clusters)} edges=$pairs\ngot $got\nexpected $expected")
      }
    }
  }

  test("nearDupClusters: driver union-find and the distributed loop give row-identical output") {
    val spark = TestSpark.spark
    // One graph of disjoint shapes, plus the empty pair table. None is a
    // null end: the loop joins such a pair to nothing, so 46 and 47 stay
    // singletons unless another pair links them.
    val chain = (0L until 40L).map(i => (Some(i), Some(i + 1))) // 41 nodes, diameter > 2^5
    val star = (51L to 58L).map(i => (Some(50L), Some(i)))
    val clique = for (a <- 42L to 45L; b <- 42L to 45L if a < b) yield (Some(b), Some(a))
    val odd = star.take(3) ++ Seq((Some(59L), Some(59L)), // duplicates, a self-loop
      (Some(46L), None), (None, Some(47L)), (None, None), (Some(48L), Some(46L)))
    val graphs = Seq("all shapes" -> (chain ++ star ++ clique ++ odd),
      "empty" -> Seq.empty[(Option[Long], Option[Long])])
    // Unpadded strings order "n10" < "n9": the label is the string minimum.
    val types = Seq[(DataType, Long => Any)](
      (LongType, v => v), (IntegerType, v => v.toInt), (StringType, v => s"n$v"))
    for ((t, conv) <- types; (shape, edges) <- graphs) {
      def frame(cols: String*)(rows: Seq[Seq[Option[Long]]]) = spark.createDataFrame(
        rows.map(r => Row(r.map(_.map(conv).orNull): _*)).asJava,
        StructType(cols.map(StructField(_, t))))
      val docs = frame("doc_id")((0L to 62L).map(v => Seq(Some(v))) :+ Seq(None))
      val pairs = frame("id_a", "id_b")(edges.map(e => Seq(e._1, e._2)))
      val driver = DedupOps.nearDupClusters(docs, "doc_id", pairs)
      val loop = DedupOps.nearDupClusters(docs, "doc_id", pairs, -1)
      val (d, l) = (driver.collect().map(_.toString).sorted.toSeq,
        loop.collect().map(_.toString).sorted.toSeq)
      graft.core.Caches.releaseAll()
      assert(!tookLoop(driver) && tookLoop(loop), s"$t $shape: wrong paths")
      assert(driver.schema == loop.schema, s"$t $shape: ${driver.schema} vs ${loop.schema}")
      assert(driver.schema.map(_.dataType) == Seq(t, t), s"$t $shape: ${driver.schema}")
      assert(d == l, s"$t $shape:\ndriver $d\nloop   $l")
      if (t == LongType && shape == "all shapes") {
        val got = d.map(_.stripPrefix("[").stripSuffix("]").split(",") match {
          case Array(a, b) => a -> b
        }).toMap
        val want = (0L to 40L).map(_ -> 0L) ++ (50L to 58L).map(_ -> 50L) ++
          (42L to 45L).map(_ -> 42L) ++ Seq(46L -> 46L, 47L -> 47L, 48L -> 46L, 59L -> 59L)
        assert(want.forall { case (v, c) => got(v.toString) == c.toString }, s"labels $got")
        assert(got("null") == "null")
      }
    }
  }

  test("nearDupModel: shared pairs+clusters equal the independent chains") {
    val df = docsDF(
      (1L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (2L, ((1 to 38).map(i => s"tok$i") ++ Seq("zzz", "tok40")).mkString(" ")),
      (3L, (100 to 140).map(i => s"other$i").mkString(" ")),
      (4L, (1 to 40).map(i => s"tok$i").mkString(" ")))
    graft.core.Caches.scoped {
      val m = DedupOps.nearDupModel(df, "doc_id", 3, 12, 3, 1, 2)
      val gotPairs = m.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val gotClusters = m.clusters.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expPairs = DedupOps.minhashNearDups(df, "doc_id", 3, 12, 3, 1, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expClusters = DedupOps.nearDupClusters(df, "doc_id",
          DedupOps.minhashNearDups(df, "doc_id", 3, 12, 3, 1, 2))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotPairs == expPairs)
      assert(gotClusters == expClusters)
      // Downstream surfaces read the SAME persisted frames: keep-list and
      // size histogram agree with the cluster labels.
      val keep = m.clusters.filter(col("doc_id") === col("cluster"))
        .collect().map(_.getLong(0)).toSet
      assert(keep == expClusters.groupBy(_._2).map(_._2.map(_._1).min).toSet)
    }
    val spark = TestSpark.spark
    assert(spark.sharedState.cacheManager.isEmpty,
      "model intermediates still cached after Caches.scoped")
  }

  test("dedup caches: withDedupCaches leaves no cached partitions or checkpoint RDDs behind") {
    val spark = TestSpark.spark
    // A persisted input, as a deployment holds its corpus: it must be the
    // only storage left once each scope ends.
    val df = docsDF((1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "p q r s t u"),
      (4L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (5L, ((1 to 38).map(i => s"tok$i") ++ Seq("zzz", "tok40")).mkString(" ")))
      .persist()
    df.count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // The default bound collapses on the driver; bound 0 runs the loop,
    // which checkpoints per round — storage below the CacheManager that
    // must ALSO be released on the way out.
    for (bound <- Seq(1 << 20, 0)) {
      graft.core.Caches.scoped {
        DedupOps.minhashNearDups(df, "doc_id", 3, 12, 3, 1, 2).count()
        DedupOps.jaccardNearDups(df, "doc_id", 3, 1, 2).count()
        val m = DedupOps.nearDupModel(df, "doc_id", 3, 12, 3, 1, 2,
          DedupOps.DefaultMaxBucket, bound)
        assert(m.pairs.count() > 0, "fixture must give the collapse a pair graph")
        assert(tookLoop(m.clusters) == (bound == 0))
        m.clusters.filter(col("doc_id") === col("cluster")).count()
        m.clusters.groupBy("cluster").count().count()
        // An unpersisted pair plan: the collapse caches its own pair list.
        DedupOps.nearDupClusters(df, "doc_id",
          DedupOps.minhashNearDups(df, "doc_id", 3, 12, 3, 1, 2), bound).count()
      }
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        s"bound $bound: storage leaked: ${spark.sparkContext.getPersistentRDDs.keySet} vs $before")
      assert(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    }
    df.unpersist(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty,
      "dedup intermediates still cached after Caches.scoped")
  }

  test("simhashNearDups pairs near-identical docs, not dissimilar ones; self-pairs absent") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = ((1 to 59).map(i => s"w$i") :+ "zzz").mkString(" ")
    val far  = (200 to 260).map(i => s"q$i").mkString(" ")
    val df = docsDF((1L, base), (2L, near), (3L, far), (4L, base))
    val got = graft.core.Caches.scoped {
      DedupOps.simhashNearDups(df, "doc_id", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val keys = got.map(p => (p._1, p._2))
    assert(keys.contains((1L, 4L)), s"identical docs must pair at dist 0: $got")
    assert(got.collect { case (1L, 4L, d) => d }.head == 0L)
    assert(!keys.exists(p => p._1 == p._2))
    assert(!keys.exists(p => p._2 == 3L || p._1 == 3L), s"dissimilar doc paired: $got")
  }

  test("property: simhashNearDups equals brute-force Hamming search for any block count") {
    // Small shared vocabulary drives signatures close together, so plenty of
    // pairs land at small Hamming distances; one planted single-token
    // mutation guarantees a true near-dup in every sample. Block counts 4-7
    // exercise minimal pigeonhole, non-dividing widths (5, 7, via 11/10-bit
    // and 10/9-bit blocks), and the scale default 6.
    val docGen = Gen.listOfN(9, Gen.choose(5, 30).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf((1 to 12).map(i => s"w$i"))).map(_.mkString(" "))))
    forAll(Gen.zip(docGen, Gen.oneOf(4, 5, 6, 7)), n = 8) { case (texts, blocks) =>
      val all = texts :+ (texts.head + " w1")
      val rows = all.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = docsDF(rows: _*)
      val sigs = DedupOps.simhash64Rows(df, "doc_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        d = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if d <= 3
      } yield (a, b, d.toLong)).toSet
      val got = graft.core.Caches.scoped {
        DedupOps.simhashNearDups(df, "doc_id", 3, blocks)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      }
      assert(got == expected, s"blocks=$blocks docs=$all\ngot $got\nexpected $expected")
    }
  }

  test("property: hammingPairs over 16-bit signatures equals brute force (perceptual-hash shape)") {
    // The mm_phash_pairs regime: small integer signatures (image aHash /
    // audio fingerprints), distinct-value ids, Hamming ≤ 2. Block counts
    // 3-5 exercise minimal pigeonhole (3), the query default (4), and
    // non-dividing widths (5 → 4/3-bit blocks).
    val spark = TestSpark.spark
    import spark.implicits._
    val sigGen = Gen.listOfN(14, Gen.choose(0L, 65535L))
    forAll(Gen.zip(sigGen, Gen.oneOf(3, 4, 5)), n = 8) { case (raw, blocks) =>
      val hs = (raw :+ (raw.head ^ 1L)).distinct // planted dist-1 pair
      val df = hs.map(h => (h, h)).toDF("id", "h")
      val expected = (for {
        a <- hs; b <- hs if a < b
        d = java.lang.Long.bitCount(a ^ b) if d <= 2
      } yield (a, b, d.toLong)).toSet
      val got = graft.core.Caches.scoped {
        DedupOps.hammingPairs(df, 16, 2, blocks)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      }
      assert(got == expected, s"blocks=$blocks hs=$hs\ngot $got\nexpected $expected")
    }
  }

  test("simhash: identical texts collide; near texts land closer than far ones") {
    val spark = TestSpark.spark
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = ((1 to 58).map(i => s"w$i") ++ Seq("a", "b")).mkString(" ")
    val far  = (200 to 260).map(i => s"q$i").mkString(" ")
    val df = docsDF((1L, base), (2L, base), (3L, near), (4L, far))
      .select(col("doc_id"), DedupOps.simhashCol(col("text")).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(m(1L) == m(2L))
    assert(hamming(m(1L), m(3L)) < hamming(m(1L), m(4L)))
  }

  test("minhashEstimates: identical pairs agree on every slot; partial overlap matches the driver replay") {
    val spark = TestSpark.spark
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    // near shares shingles w3..w20 with base (17 of 18+2 shingles each):
    // J well above 1/2; dis shares nothing.
    val near = ((3 to 20).map(i => s"w$i") ++ Seq("x", "y")).mkString(" ")
    val dis = (50 to 70).map(i => s"q$i").mkString(" ")
    val df = docsDF((1L, base), (2L, base), (3L, near), (4L, dis))
    val got = DedupOps.minhashEstimates(df, "doc_id", 3, 36, 1, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    graft.core.Caches.releaseAll()
    // Pairs: (1,2) identical, (1,3) and (2,3) overlapping; 4 in none.
    assert(got.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(got((1L, 2L)) == ((18L, 18L, 36L)), "identical docs agree everywhere")
    // Driver-side replay of the md5-fold minhash slots for the (1,3) pair.
    def shingleSet(text: String): Set[String] = {
      val w = text.split(" ")
      (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    def draw(salt: String, s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest((salt + s).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (0 until 6).map(i => hex.charAt(i).toLong).reduce((a, b) => a * 31L + b)
    }
    def sig(text: String): Seq[Long] =
      (0 until 36).map(j => shingleSet(text).map(s => draw(s"mh$j:", s)).min)
    val (sa, sb) = (sig(base), sig(near))
    val expMatches = (0 until 36).count(j => sa(j) == sb(j)).toLong
    val inter = shingleSet(base).intersect(shingleSet(near)).size.toLong
    val union = shingleSet(base).union(shingleSet(near)).size.toLong
    assert(got((1L, 3L)) == ((inter, union, expMatches)))
    // The estimate tracks J: an un-identical pair agrees on fewer slots.
    assert(expMatches < 36L && expMatches > 0L)
  }

  /** Brute-force twin of duplicatedSpanCoverage: count every k-window's
    * global occurrences, mark covered positions with a boolean array. */
  private def bruteCoverage(rows: Seq[(Long, String)], k: Int)
      : Map[Long, (Long, Long, Long, Long)] = {
    val toks = rows.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val wins = rows.flatMap { case (id, _) =>
      toks(id).sliding(k).zipWithIndex.collect {
        case (w, i) if w.size == k => (id, i, w.mkString(" "))
      }
    }
    val cnt = wins.groupBy(_._3).view.mapValues(_.size).toMap
    rows.map { case (id, _) =>
      val n = toks(id).size
      val dup = wins.filter(w => w._1 == id && cnt(w._3) >= 2)
      val covered = Array.fill(n)(false)
      dup.foreach { case (_, i, _) =>
        (i until math.min(i + k, n)).foreach(covered(_) = true) }
      id -> ((n.toLong, math.max(n - k + 1, 0).toLong,
        dup.size.toLong, covered.count(identity).toLong))
    }.toMap
  }

  test("duplicatedSpanCoverage: hand cases — boilerplate, self-repeat, short doc, unique doc") {
    val boiler = "the quick brown fox jumps over lazy dogs"        // 8 tokens
    val rows = Seq(
      1L -> s"alpha beta $boiler gamma delta",    // boilerplate spliced in
      2L -> s"$boiler epsilon zeta eta theta",    // same boilerplate, start 0
      3L -> "r1 r2 r3 r4 r5 r6 r7 r8 x r1 r2 r3 r4 r5 r6 r7 r8", // self-repeat
      4L -> "only three tokens",                  // shorter than k
      5L -> (1 to 20).map(i => s"u$i").mkString(" ")) // fully unique
    val k = 8
    val got = DedupOps.duplicatedSpanCoverage(docsDF(rows: _*), "doc_id", k)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    graft.core.Caches.releaseAll()
    assert(got == bruteCoverage(rows, k))
    // Spot-check the semantics the fixture encodes: doc 4 has zero
    // windows; doc 5 is fully uncovered; docs 1/2 cover exactly the
    // 8-token boilerplate; doc 3's self-repeat covers both copies.
    assert(got(4L) == ((3L, 0L, 0L, 0L)))
    assert(got(5L) == ((20L, 13L, 0L, 0L)))
    assert(got(1L)._4 == 8L && got(2L)._4 == 8L)
    assert(got(3L)._3 == 2L && got(3L)._4 == 16L)
  }

  test("nearDupClusters: above the driver bound, the distributed path gives the same labels") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 40 edges over a bound of 10: the bounded pass sees 11 edges and hands
    // the whole graph to the round loop instead of truncating it.
    val docs = (0L to 41L).toDF("doc_id")
    val chain = (0L until 40L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val above = DedupOps.nearDupClusters(docs, "doc_id", chain, 10)
    val got = above.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.core.Caches.releaseAll()
    val within = DedupOps.nearDupClusters(docs, "doc_id", chain, 40)
    val want = within.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.core.Caches.releaseAll()
    assert(tookLoop(above) && !tookLoop(within))
    assert(got == want && want == (0L to 40L).map(_ -> 0L).toMap + (41L -> 41L), s"got $got")
  }

  /** Ground truth for duplicatedSpanRuns straight from the covered
    * boolean array: maximal true-runs. */
  private def bruteRuns(rows: Seq[(Long, String)], k: Int)
      : Map[Long, (Long, Long, Long)] = {
    val toks = rows.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val wins = rows.flatMap { case (id, _) =>
      toks(id).sliding(k).zipWithIndex.collect {
        case (w, i) if w.size == k => (id, i, w.mkString(" "))
      }
    }
    val cnt = wins.groupBy(_._3).view.mapValues(_.size).toMap
    rows.flatMap { case (id, _) =>
      val n = toks(id).size
      val covered = Array.fill(n)(false)
      wins.filter(w => w._1 == id && cnt(w._3) >= 2)
        .foreach { case (_, i, _) =>
          (i until math.min(i + k, n)).foreach(covered(_) = true) }
      // Maximal true-runs of the coverage array.
      val runs = scala.collection.mutable.ListBuffer.empty[Int]
      var cur = 0
      covered.foreach { c =>
        if (c) cur += 1
        else if (cur > 0) { runs += cur; cur = 0 }
      }
      if (cur > 0) runs += cur
      if (runs.isEmpty) None
      else Some(id -> ((runs.size.toLong, runs.max.toLong, runs.sum.toLong)))
    }.toMap
  }

  test("duplicatedSpanRuns: island merge at gap <= k, split at gap > k, matches coverage") {
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    val rows = Seq(
      // Two copies of the boilerplate INSIDE one doc separated by one
      // token (gap 9 > k=8 → two runs) plus a doc where they abut
      // (gap 8 = k → one merged 16-token run).
      1L -> s"$boiler x $boiler",
      2L -> s"$boiler $boiler",
      3L -> s"pre1 pre2 $boiler post1 post2",
      4L -> "only unique tokens here at all")
    val k = 8
    val got = DedupOps.duplicatedSpanRuns(docsDF(rows: _*), "doc_id", k)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    graft.core.Caches.releaseAll()
    assert(got == bruteRuns(rows, k))
    assert(got(1L) == ((2L, 8L, 16L)), "gap > k must split runs")
    assert(got(2L)._1 == 1L, "abutting windows must merge into one run")
    assert(!got.contains(4L), "docs with no duplicated window are absent")
    // Cross-operator consistency: covered_tokens equals the coverage
    // operator's interval union.
    val cov = DedupOps.duplicatedSpanCoverage(docsDF(rows: _*), "doc_id", k)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    graft.core.Caches.releaseAll()
    got.foreach { case (id, (_, _, covered)) => assert(cov(id) == covered) }
  }

  test("duplicatedSpanRuns matches brute force on random corpora (property)") {
    val docGen = Gen.chooseNum(0, 14).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    val corpusGen = Gen.chooseNum(2, 8).flatMap(m =>
      Gen.listOfN(m, docGen).map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) }))
    forAll(Gen.zip(corpusGen, Gen.chooseNum(2, 4)), 12) { case (rows, k) =>
      val got = DedupOps.duplicatedSpanRuns(docsDF(rows: _*), "doc_id", k)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      graft.core.Caches.releaseAll()
      assert(got == bruteRuns(rows, k), s"k=$k rows=$rows")
    }
  }

  test("duplicatedSpanCoverage matches brute force on random corpora (property)") {
    // Small token alphabet forces genuine cross-doc and within-doc window
    // collisions; doc lengths straddle k so the empty-window path is hit.
    val docGen = Gen.chooseNum(0, 14).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    val corpusGen = Gen.chooseNum(2, 8).flatMap(m =>
      Gen.listOfN(m, docGen).map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) }))
    forAll(Gen.zip(corpusGen, Gen.chooseNum(2, 4)), 12) { case (rows, k) =>
      val got = DedupOps.duplicatedSpanCoverage(docsDF(rows: _*), "doc_id", k)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      graft.core.Caches.releaseAll()
      assert(got == bruteCoverage(rows, k), s"k=$k rows=$rows")
    }
  }

  private def bruteBoiler(rows: Seq[(Long, String)], k: Int, minDocs: Int)
      : Map[Long, (Long, Long, Long, Long)] = {
    val toks = rows.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val wins = rows.flatMap { case (id, _) =>
      toks(id).sliding(k).zipWithIndex.collect {
        case (w, i) if w.size == k => (id, i, w.mkString(" "))
      }
    }
    val ndocs = wins.groupBy(_._3).view.mapValues(_.map(_._1).distinct.size).toMap
    rows.map { case (id, _) =>
      val n = toks(id).size
      val bp = wins.filter(w => w._1 == id && ndocs(w._3) >= minDocs)
      val covered = Array.fill(n)(false)
      bp.foreach { case (_, i, _) =>
        (i until math.min(i + k, n)).foreach(covered(_) = true) }
      id -> ((n.toLong, math.max(n - k + 1, 0).toLong,
        bp.size.toLong, covered.count(identity).toLong))
    }.toMap
  }

  test("boilerplateCoverage: doc-frequency threshold — pair-dups and self-repeats excluded") {
    val tpl = "sign up for our newsletter today and save" // 8 tokens
    val rows = Seq(
      1L -> s"$tpl a1 a2",
      2L -> s"b1 b2 $tpl",
      3L -> s"c1 $tpl c2",
      4L -> "d1 d2 d3 d4 d5 d6 d7 d8 e d1 d2 d3 d4 d5 d6 d7 d8", // self-repeat only
      5L -> "p1 p2 p3 p4 p5 p6 p7 p8 q1",
      6L -> "p1 p2 p3 p4 p5 p6 p7 p8 q2") // two-doc dup: below minDocs = 3
    val got = DedupOps.boilerplateCoverage(docsDF(rows: _*), "doc_id", 8, 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    graft.core.Caches.releaseAll()
    assert(got == bruteBoiler(rows, 8, 3))
    // The semantics the fixture encodes: only the 3-doc template counts;
    // a self-repeat (duplicatedSpanCoverage's business) and a 2-doc dup
    // both stay below the document-frequency threshold.
    assert(got(1L)._3 == 1L && got(1L)._4 == 8L)
    assert(got(4L) == ((17L, 10L, 0L, 0L)))
    assert(got(5L)._3 == 0L && got(6L)._3 == 0L)
  }

  test("property: boilerplateCoverage matches doc-frequency brute force on random corpora") {
    val docGen = Gen.chooseNum(0, 14).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    val corpusGen = Gen.chooseNum(2, 8).flatMap(m =>
      Gen.listOfN(m, docGen).map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) }))
    forAll(Gen.zip(corpusGen, Gen.chooseNum(2, 4), Gen.chooseNum(2, 3)), 10) {
      case (rows, k, minDocs) =>
        val got = DedupOps.boilerplateCoverage(docsDF(rows: _*), "doc_id", k, minDocs)
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
          .toMap
        graft.core.Caches.releaseAll()
        assert(got == bruteBoiler(rows, k, minDocs), s"k=$k minDocs=$minDocs rows=$rows")
    }
  }

  test("containmentNearDups: verbatim-pasted short doc caught where Jaccard misses") {
    val short = (1 to 10).map(i => s"s$i").mkString(" ")
    val long  = short + " " + (1 to 30).map(i => s"l$i").mkString(" ")
    val far   = (1 to 20).map(i => s"z$i").mkString(" ")
    val df = docsDF(1L -> short, 2L -> long, 3L -> far)
    val got = DedupOps.containmentNearDups(df, "doc_id", 3, 9, 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    graft.core.Caches.releaseAll()
    // short: 8 distinct 3-shingles, every one inside long (40 tokens → 38
    // shingles) → containment exactly 1 at wildly different sizes.
    assert(got == Set((1L, 2L, 8L, 8L, 38L)))
    // Jaccard at even the permissive 1/2 threshold misses it: 8/38.
    val jac = DedupOps.jaccardNearDups(df, "doc_id", 3, 1, 2).collect()
    graft.core.Caches.releaseAll()
    assert(jac.isEmpty)
  }

  test("property: containmentNearDups equals brute force on tiny-vocab corpora") {
    // Same hot-shingle regime as the Jaccard property test: a 6-word
    // vocabulary makes every prefix shingle common, stressing the
    // prefix ⋈ full candidate geometry.
    val docGen = Gen.listOfN(8, Gen.choose(3, 12).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.mkString(" "))))
    def sh(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length < 2) Set.empty else w.sliding(2).map(_.mkString(" ")).toSet
    }
    forAll(docGen, n = 12) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val expected = (for {
        (ta, a) <- texts.zipWithIndex; (tb, b) <- texts.zipWithIndex if a < b
        sa = sh(ta); sb = sh(tb)
        inter = (sa & sb).size
        if sa.nonEmpty && sb.nonEmpty && inter * 3 >= math.min(sa.size, sb.size) * 2
      } yield (a.toLong, b.toLong, inter.toLong, sa.size.toLong, sb.size.toLong)).toSet
      val got = DedupOps.containmentNearDups(docsDF(rows: _*), "doc_id", 2, 2, 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(got == expected, s"docs=$texts\ngot $got\nexpected $expected")
      graft.core.Caches.releaseAll()
    }
  }
}
