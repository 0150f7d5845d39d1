package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.TestSpark

class GraftExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions installs graft functions without register()") {
    val base = TestSpark.spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // `spark.sql.extensions=graft.plans.GraftExtensions` is a STATIC
      // conf (read at SparkContext creation), so a suite sharing one
      // context exercises the same class through the builder's public
      // withExtensions hook — identical injection path from there on.
      val ext = SparkSession.builder()
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      // No GraftFunctions.register(ext) anywhere on this path: SQL must
      // resolve the natives purely via the injected extension. (The new
      // session shares the JVM's SparkContext — never .stop() it here.)
      val r = ext.sql(
        "SELECT graft_zorder(3L, 5L) AS z, " +
          "graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").collect().head
      assert(r.getLong(0) == 0x27L) // interleave(0b11, 0b101) = 0b100111
      assert(r.getDouble(1) == 11.0)
      // The skyline aggregate resolves the same way.
      val sky = ext.sql("SELECT size(graft_skyline_agg(v)) FROM VALUES " +
        "(array(1.0D, 2.0D)), (array(2.0D, 1.0D)), (array(3.0D, 3.0D)) AS t(v)")
      assert(sky.collect().head.getInt(0) == 2)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
