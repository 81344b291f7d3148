package graft.operators

import graft.Ckpt.StableCheckpoint
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Running Sum or Max over a global (or per-group) order with no
  * `Exchange SinglePartition`: a window inside each range partition
  * plus one offset per partition.
  *
  *   1. range-partition `df` by `groups ++ order` (`parts` partitions,
  *      by default the session's shuffle-partition count) and pin each
  *      row's partition id in `_pid` with `stableCheckpoint` — range
  *      sampling is seeded per execution, so without the checkpoint the
  *      partials job and the caller's window job could disagree;
  *   2. collect one partial per (partition, group) and measure —
  *      metadata, never rows — and fold them on the driver in
  *      partition order.
  *
  * Returns the checkpointed frame with `_pid` and one LongType offset
  * column per measure (its fold over the strictly earlier partitions of
  * the row's group, attached by broadcast join); the window spec
  * partitioned by (`_pid`, groups) and ordered by `order`, without a
  * frame; and one totals row per group (the group values, then each
  * measure's fold over the whole group). A caller's running value is
  * its window aggregate combined with the offset, e.g.
  * `col("off") + sum(x).over(scan.window.rowsBetween(...))`.
  *
  * The folds are `Sum` (identity 0) and `Max` (identity null); a null
  * partial folds as the identity. Both are exact over integers, so
  * outputs do not depend on the partitioning. Empty input gives an
  * empty frame and no totals.
  */
object PrefixScan {

  sealed abstract class Measure(val identity: Option[Long],
      val combine: (Long, Long) => Long, val agg: Column => Column) {
    def name: String
    def value: Column
  }
  final case class Sum(name: String, value: Column)
    extends Measure(Some(0L), _ + _, sum(_))
  final case class Max(name: String, value: Column)
    extends Measure(None, math.max, max(_))

  final case class Scan(frame: DataFrame, window: WindowSpec, totals: Seq[Row])

  def apply(df: DataFrame, groups: Seq[String], order: Seq[Column],
      measures: Seq[Measure], parts: Option[Int] = None): Scan = {
    val keys = groups.map(col) ++ order
    val parted = parts
      .fold(df.repartitionByRange(keys: _*))(df.repartitionByRange(_, keys: _*))
      .withColumn("_pid", spark_partition_id())
      .stableCheckpoint()
    val pidGroups = ("_pid" +: groups).map(col)
    val aggs = measures.map(m => m.agg(m.value).cast(LongType))
    val n = groups.size
    def row(head: Seq[Any], acc: Seq[Option[Long]]) =
      Row.fromSeq(head ++ acc.map(_.map(Long.box).orNull))
    val folded = parted.groupBy(pidGroups: _*).agg(aggs.head, aggs.tail: _*)
      .collect().groupBy(_.toSeq.slice(1, 1 + n)).toSeq.map { case (g, rs) =>
        val sorted = rs.sortBy(_.getInt(0)).toSeq
        val prefixes = sorted.scanLeft(measures.map(_.identity)) { (acc, r) =>
          measures.indices.map { i =>
            (acc(i) ++ Option(r.get(1 + n + i)).map(_.asInstanceOf[Long]))
              .reduceOption(measures(i).combine)
          }
        }
        (sorted.zip(prefixes).map { case (r, acc) => row(r.getInt(0) +: g, acc) },
          row(g, prefixes.last))
      }
    val offDf = df.sparkSession.createDataFrame(folded.flatMap(_._1).asJava,
      StructType(StructField("_pid", IntegerType, nullable = false) +:
        groups.map(parted.schema(_)) ++:
        measures.map(m => StructField(m.name, LongType, m.identity.isEmpty))))
    val on = ("_pid" +: groups).map(k => parted(k) <=> offDf(k)).reduce(_ && _)
    Scan(parted.join(broadcast(offDf), on)
        .drop(offDf("_pid"), groups.map(offDf(_)): _*),
      Window.partitionBy(pidGroups: _*).orderBy(order: _*),
      folded.map(_._2))
  }
}
