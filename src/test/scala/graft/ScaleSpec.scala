package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Runs every [[Scale]] family at toy size through the function `Scale`'s
  * main calls, on the test session, and checks its envelope:
  *   - it parses with a strict JSON parser (Jackson, trailing tokens fail);
  *   - its key set equals the reference envelope's;
  *   - every non-timing field equals the reference's;
  *   - the identities the harness relies on hold.
  *
  * The references were written by the per-family scale mains that `Scale`
  * replaced, on `local[8]` with the same env as each case below. Timing
  * values in them are never compared (keys `sec`, `*_sec`, `*_first`, as
  * in `tools/envelope_diff.py`).
  */
class ScaleSpec extends AnyFunSuite {
  import ScaleSpec._

  private val mapper =
    new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private def timing(path: String): Boolean = {
    val key = path.split('.').last
    key == "sec" || key.endsWith("_sec") || key.endsWith("_first")
  }

  /** Leaf path → JSON text; an empty array or object is a leaf. */
  private def leaves(node: JsonNode, path: String = ""): Map[String, String] =
    if (node.isObject && node.size() > 0)
      node.fields().asScala.flatMap { e =>
        leaves(e.getValue, if (path.isEmpty) e.getKey else s"$path.${e.getKey}")
      }.toMap
    else if (node.isArray && node.size() > 0)
      node.elements().asScala.zipWithIndex.flatMap { case (n, i) =>
        leaves(n, s"$path[$i]")
      }.toMap
    else Map(path -> node.toString)

  private def family(name: String, env: (String, String)*)(reference: String)(
      identities: JsonNode => Unit = _ => ()): Unit =
    test(s"$name envelope matches the reference at toy size") {
      val line = Scale.run(Scale.families.toMap.apply(name),
        Scale.Ctx(TestSpark.spark, env.toMap))
      val got = mapper.readTree(line)
      val (g, e) = (leaves(got), leaves(mapper.readTree(reference)))
      assert(g.keySet === e.keySet)
      e.keySet.filterNot(timing).foreach(k => assert(g(k) === e(k), k))
      identities(got)
    }

  test("firstMin keeps each lap's first and min seconds and rejects diverging counts") {
    var reps = 0
    val r = Scale.firstMin(3) { lap =>
      reps += 1
      lap(Thread.sleep(if (reps == 1) 30L else 0L))
      lap(())
      7L
    }
    assert(reps === 3 && r.counts === 7L)
    assert(r.first.size === 2 && r.min.size === 2)
    assert(r.first(0) >= 0.03 && r.min(0) <= r.first(0))
    intercept[IllegalArgumentException](Scale.firstMin(2) { _ => reps += 1; reps })
  }

  private def cells(n: JsonNode, array: String = "cells"): Seq[JsonNode] =
    n.get(array).elements().asScala.toSeq

  family("skyline", "SPARK_GRAFT_SCALE_NS" -> "2000",
    "SPARK_GRAFT_SCALE_DIMS" -> "2,3")(REF_SKYLINE) { j =>
    cells(j).foreach { c =>
      val rows = Seq("mrdim", "mrgrid", "mrangle").map(s => c.get(s).get("skyline_rows").asLong)
      assert(rows.distinct.size === 1, rows)
    }
  }

  family("stream", "SPARK_GRAFT_SCALE_NS" -> "2048", "SPARK_GRAFT_SCALE_DIMS" -> "2",
    "SPARK_GRAFT_STREAM_CADENCE" -> "1024")(REF_STREAM) { j =>
    cells(j).foreach(c => assert(c.get("parity").asBoolean))
  }

  family("dedup", "SPARK_GRAFT_SCALE_NS" -> "2000")(REF_DEDUP)()

  family("graph", "SPARK_GRAFT_SCALE_NS" -> "2000")(REF_GRAPH)()

  family("events", "SPARK_GRAFT_SCALE_NS" -> "300000")(REF_EVENTS)()

  family("ann", "SPARK_GRAFT_SCALE_NS" -> "4096")(REF_ANN)()

  family("sdedup", "SPARK_GRAFT_SCALE_NS" -> "2000", "SPARK_GRAFT_SCALE_REPS" -> "1")(REF_SDEDUP) { j =>
    cells(j).foreach(c => assert(c.get("flagged").asLong === c.get("exp_flagged").asLong))
  }

  family("sboil", "SPARK_GRAFT_SCALE_NS" -> "2000")(REF_SBOIL) { j =>
    cells(j).foreach(c => assert(c.get("flagged").asLong === c.get("exp_flagged").asLong))
  }

  family("semb", "SPARK_GRAFT_SCALE_NS" -> "2000", "SPARK_GRAFT_SCALE_REPS" -> "1")(REF_SEMB)()
}

/** Reference envelopes, one line each, as the replaced mains wrote them
  * (`ScaleBench`, `StreamScaleBench`, `DedupScaleBench`, `GraphScaleBench`,
  * `EventScaleBench`, `VectorScaleBench`, `StreamDedupScaleBench`,
  * `StreamBoilScaleBench`, `StreamEmbScaleBench`) with SPARK_GRAFT_CPUS=8
  * and the env of each case above (`stream` via the old
  * SPARK_GRAFT_STREAM_N/_DIMS knobs). */
object ScaleSpec {
  val REF_SKYLINE =
    """{"metric":"scale_envelope","cells":[{"dims":2,"n":2000,"npart":8,"gen_sec":4.26,"sky_points":1066,"sky_sec":4.23,"mrdim":{"sec":1.67,"skyline_rows":1066,"optimality":1.0000},"mrgrid":{"sec":1.15,"skyline_rows":1066,"optimality":0.2500},"mrangle":{"sec":1.17,"skyline_rows":1066,"optimality":1.0000},"total_sec":8.22},{"dims":3,"n":2000,"npart":8,"gen_sec":0.62,"sky_points":535,"sky_sec":1.11,"mrdim":{"sec":1.01,"skyline_rows":535,"optimality":0.8145},"mrgrid":{"sec":1.22,"skyline_rows":535,"optimality":0.7723},"mrangle":{"sec":0.71,"skyline_rows":535,"optimality":0.8823},"total_sec":4.06}],"nparts":[8],"distribution":"anti_correlated"}"""
  val REF_STREAM =
    """{"metric":"stream_scale_envelope","npart":8,"distribution":"anti_correlated","cells":[{"dims":2,"n":2048,"cadence":1024,"parity":true,"total_sec":9.85,"triggers":[{"prefix":1024,"ingest_sec":4.31,"query_sec":2.08,"skyline_size":702,"batch_oracle":702},{"prefix":2048,"ingest_sec":1.96,"query_sec":1.50,"skyline_size":1081,"batch_oracle":1081}]}]}"""
  val REF_DEDUP =
    """{"metric":"scale_dedup","cells":[{"n":2000,"gen_sec":4.61,"reps":1,"pairs_sec":5.43,"pairs_first":5.43,"n_pairs":200,"cluster_sec":7.36,"cluster_first":7.36,"n_clustered":200,"substr_sec":3.74,"substr_first":3.74,"docs_with_dup_spans":400,"covered_tokens":8800,"bp_sec":2.88,"bp_first":2.88,"docs_bp":400,"bp_covered_tokens":8800,"contain_sec":4.51,"contain_first":4.51,"n_contain":200}],"planted_dup_share":0.1}"""
  val REF_GRAPH =
    """{"metric":"scale_graph","cells":[{"n":2000,"n_edges":5940,"gen_sec":4.22,"reps":1,"pagerank_sec":12.21,"pagerank_first":12.21,"pr_mass":999999992681,"pagerank50_sec":43.08,"pagerank50_first":43.08,"pr50_mass":999999983151,"pr50_rounds":50,"cc_sec":6.06,"cc_first":6.06,"n_components":1,"kcore_sec":4.56,"kcore_first":4.56,"n_core":1619,"triangles_sec":2.25,"triangles_first":2.25,"n_triangles":32}],"pr_iters":5,"kcore_k":4}"""
  val REF_EVENTS =
    """{"metric":"scale_events","cells":[{"n":300000,"gen_sec":5.85,"funnel_sec":9.00,"funnel_rows":3,"retention_sec":3.71,"retention_rows":59,"transitions_sec":4.20,"transitions_rows":2}],"users":100000}"""
  val REF_ANN =
    """{"metric":"scale_ann","cells":[{"n":4096,"gen_sec":5.74,"brute_sec":4.38,"n_brute":80,"lsh_sec":10.75,"lsh_hits":16,"lshmp_sec":-1.00,"lshmp_hits":-1,"lshmp_cap":8192,"lshmp_cap_auto":false,"lshmp_sweep":[],"ivf_sec":6.27,"ivf_hits":70,"ivfk_sec":-1.00,"ivfk_hits":-1,"ivfkb_full_sec":-1.00,"ivfkb_full_hits":-1,"ivfkb_samp_sec":-1.00,"ivfkb_samp_hits":-1,"ivfkb_samp_mod":1,"ivfpqb_full_sec":-1.00,"ivfpqb_full_hits":-1,"ivfpqb_samp_sec":-1.00,"ivfpqb_samp_hits":-1,"ivfpqb_full_rr_hits":-1,"ivfpqb_full_rr_sec":-1.00,"ivfpqb_samp_rr_hits":-1,"ivfpqb_samp_rr_sec":-1.00,"ivfpqb_rr_cand":100,"sq8_sec":3.75,"sq8_hits":80,"sq8_sweep":[]}],"dims":64,"k":10,"n_queries":8}"""
  val REF_SDEDUP =
    """{"metric":"scale_stream_dedup","cells":[{"n":2000,"ingest_sec":29.78,"ingest_first":29.78,"reps":1,"docs_per_sec":67,"spans":34000,"flagged":3000,"exp_flagged":3000,"state_rows":31000}],"planted_dup_share":0.1,"k":8,"blocks":10,"provider":"default","maintenance_interval":"60s"}"""
  val REF_SBOIL =
    """{"metric":"scale_stream_boiler","cells":[{"n":2000,"ingest_sec":28.22,"docs_per_sec":70,"spans":34000,"flagged":594,"exp_flagged":594,"state_rows":33403}],"template_share":0.1,"k":8,"min_docs":3,"blocks":10}"""
  val REF_SEMB =
    """{"metric":"scale_stream_embdedup","cells":[{"n":2000,"ingest_sec":30.02,"ingest_first":30.02,"reps":1,"vecs_per_sec":66,"rows":2000,"flagged":1800,"exp_flagged":1800,"state_rows":147}],"multi_cells":[{"n":2000,"exp_flagged":1800,"reps":1,"t1_ingest_sec":21.07,"t1_ingest_first":21.07,"t1_flagged":1697,"t1_state_rows":214,"t1_saturated":0,"t2_ingest_sec":16.51,"t2_ingest_first":16.51,"t2_flagged":1785,"t2_state_rows":473,"t2_saturated":0}],"dims":64,"bits":12,"copies_per_slot":10,"blocks":10}"""
}
