package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

import graft.core.{SkyBuffer, SkylineKernel}

/** One logical partition's MR skyline statistics (reference formula:
  * `java/org.main/FlinkSkyline.java:590-608`): `c_rows` input rows,
  * `c_local` rows on the partition's local skyline, `c_surv` rows on the
  * global skyline (duplicates counted throughout). */
final case class PartitionStats(pid: Int, c_rows: Long, c_local: Long, c_surv: Long)

/** Aggregation buffer of [[SkylineStats]]: per partition id, a row count
  * and the partition's local skyline as a [[SkyBuffer]]. Kryo-encoded at
  * the shuffle boundary, like [[SkylineAgg]]'s buffer. */
final class SkyStatsBuffer(val parts: mutable.HashMap[Int, SkyStatsBuffer.Part])
    extends Serializable {
  def this() = this(mutable.HashMap.empty)

  def add(pid: Int, v: Array[Double]): Unit = {
    val p = parts.getOrElseUpdate(pid, new SkyStatsBuffer.Part())
    p.rows += 1
    if (v != null) p.sky.add(v)
  }

  def absorb(other: SkyStatsBuffer): Unit =
    other.parts.foreach { case (pid, o) =>
      parts.get(pid) match {
        case Some(p) => p.rows += o.rows; p.sky.absorb(o.sky)
        case None => parts(pid) = o
      }
    }

  /** Compact every local skyline, then merge them tagged by pid: a
    * partition's survivors are its entries left on the merged skyline. */
  def stats(): Array[PartitionStats] = {
    val pts = mutable.ArrayBuffer.empty[Array[Double]]
    val tags = mutable.ArrayBuffer.empty[Int]
    val cnts = mutable.ArrayBuffer.empty[Long]
    val local = parts.toSeq.sortBy(_._1).map { case (pid, p) =>
      p.sky.compact()
      pts ++= p.sky.points
      tags ++= Iterator.fill(p.sky.points.length)(pid)
      cnts ++= p.sky.counts
      (pid, p.rows, p.sky.counts.sum)
    }
    val surv = SkylineKernel.mergeTagged(pts, tags, cnts).survivors
    local.map { case (pid, rows, loc) =>
      PartitionStats(pid, rows, loc, surv.getOrElse(pid, 0L))
    }.toArray
  }
}

object SkyStatsBuffer {
  final class Part(var rows: Long, val sky: SkyBuffer) extends Serializable {
    def this() = this(0L, new SkyBuffer())
  }
}

/** `skyline_stats(pid: int, values: array<double>) -> array<PartitionStats>`
  * — every partition's MR statistics in ONE input scan.
  *
  * Same two-phase shape as [[SkylineAgg]]: `reduce` folds each row into
  * its partition's local skyline map-side, only compacted local skylines
  * (plus one row count per partition) cross the shuffle, and `finish`
  * merges the local skylines tagged by partition id
  * ([[graft.core.SkylineKernel.mergeTagged]], the tagged merge the
  * streaming global phase uses). One output entry per partition id that
  * had rows, sorted by pid.
  *
  * A null partition id fails the query: the buffer keys on `Int`, and
  * folding nulls into some partition would silently skew the statistics.
  */
class SkylineStats
    extends Aggregator[(java.lang.Integer, Array[Double]), SkyStatsBuffer, Array[PartitionStats]] {
  override def zero: SkyStatsBuffer = new SkyStatsBuffer()

  override def reduce(b: SkyStatsBuffer, in: (java.lang.Integer, Array[Double])): SkyStatsBuffer = {
    require(in._1 != null, SkylineStats.NullPid)
    b.add(in._1, in._2)
    b
  }

  override def merge(b1: SkyStatsBuffer, b2: SkyStatsBuffer): SkyStatsBuffer = {
    b1.absorb(b2)
    b1
  }

  override def finish(b: SkyStatsBuffer): Array[PartitionStats] = b.stats()

  override def bufferEncoder: Encoder[SkyStatsBuffer] = Encoders.kryo[SkyStatsBuffer]

  // Catalyst-internal encoder, as in SkylineAgg (pinned to Spark 4.x).
  override def outputEncoder: Encoder[Array[PartitionStats]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[PartitionStats]]()
}

object SkylineStats {
  val NullPid = "skyline_stats: null partition id (the pid column must be non-null)"

  private lazy val fn = udaf(new SkylineStats)

  /** Column form: `skyline_stats($"pid", $"values")`. */
  def skyline_stats(pid: Column, values: Column): Column = fn(pid, values)
}
