package graft.ops

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.io.CsvSink
import graft.schema.ReportSchema.{TaxId, TaxName}

/** W1+J1: per-sample top-K by rRPM with per-cell stats
  * (`bigbugdata.py:166–205`), ranked over the organism rows.
  *
  * The reference sorts the FULL dense organism vector per sample
  * (`sorted(..., reverse=True)[0:n]`, `:178–181`) — Python's stable sort
  * over taxID-ascending input makes ties resolve taxID-ascending, which
  * the rank order reproduces: rrpm descending in Spark's double order
  * (NaN above every number, −0.0 = 0.0, nulls last), then taxID
  * ascending. Rank ordinals are assigned over every grid cell, and only
  * then are cells without `stats` (0-filled grid cells, no report row)
  * dropped: such a top-K cell consumes its ordinal — rank gaps are part
  * of the contract (`:183–188` + TODO comment).
  *
  * Top-K as partition, bounded heap, combine: a task reads its organism
  * rows once and offers each slot's cell to that slot's K-heap
  * ([[Heaps]]), so it returns at most S × K candidates; the driver
  * merges them per sample and ranks ([[rank]]). No exchange by sample,
  * no window. The batch's write runs the heaps inside its one sink
  * action (`BigBugData.write`); [[tophits]] runs them alone. The heaps
  * read Catalyst's rows in place and copy out only the cells they keep.
  *
  * The grid has `rrpm`, `z_score` and `stats` (kmers, dup, reads, cov,
  * e_val) as arrays with one slot per sample. A candidate is one slot's
  * cell: (slot, taxID, taxName, rrpm, z_score, stats).
  */
object TopHits {

  /** the organism row's columns a [[Heaps]] reads, in this order */
  val inputs: Seq[Column] = Seq(TaxId, TaxName, "rrpm", "z_score", "stats").map(col)

  private def statsType(grid: StructType): StructType =
    grid("stats").dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  /** sampleName, taxID, taxName, rank, rRPM, the stats fields, z_score */
  def schema(grid: StructType): StructType = StructType(
    Seq(StructField("sampleName", StringType, nullable = false), grid(TaxId),
      grid(TaxName), StructField("rank", IntegerType, nullable = false),
      StructField("rRPM", DoubleType)) ++
      statsType(grid).fields :+ StructField("z_score", DoubleType))

  /** negative if cell a ranks before cell b (the rank order above) */
  private def compare(nullA: Boolean, a: Double, taxA: Long,
      nullB: Boolean, b: Double, taxB: Long): Int = {
    val c =
      if (nullA || nullB) java.lang.Boolean.compare(nullA, nullB)
      else if (a == b) 0
      else java.lang.Double.compare(b, a)
    if (c != 0) c else java.lang.Long.compare(taxA, taxB)
  }

  /** the rank order over candidates */
  private val order: Ordering[InternalRow] = (a: InternalRow, b: InternalRow) =>
    compare(a.isNullAt(3), a.getDouble(3), a.getLong(1), b.isNullAt(3), b.getDouble(3), b.getLong(1))

  /** One task's heaps, one per slot: [[offer]] an organism row of `grid`
    * (its [[inputs]], from column `at` on) and each slot keeps its K
    * first cells in rank order; [[result]] is those cells as candidates. */
  final class Heaps(grid: StructType, slots: Int, k: Int, at: Int) extends CsvSink.Side {
    private val statsFields = statsType(grid).size
    // a max-heap under the rank order: its head is the last cell kept
    private val heaps = Array.fill(slots)(mutable.PriorityQueue.empty[InternalRow](order))

    def offer(r: InternalRow): Unit = if (k > 0) {
      val taxId = r.getLong(at)
      val rrpm = r.getArray(at + 2)
      var i = 0
      while (i < slots) {
        val h = heaps(i)
        if (h.size < k || compare(rrpm.isNullAt(i), rrpm.getDouble(i), taxId,
            h.head.isNullAt(3), h.head.getDouble(3), h.head.getLong(1)) < 0) {
          if (h.size == k) h.dequeue()
          // `r` is reused for the next row: copy what is kept
          val (name, z, stats) = (r.getUTF8String(at + 1), r.getArray(at + 3), r.getArray(at + 4))
          h.enqueue(new GenericInternalRow(Array[Any](i, taxId,
            if (name == null) null else name.clone(),
            if (rrpm.isNullAt(i)) null else rrpm.getDouble(i),
            if (z.isNullAt(i)) null else z.getDouble(i),
            if (stats.isNullAt(i)) null else stats.getStruct(i, statsFields).copy())))
        }
        i += 1
      }
    }

    def result: Iterator[InternalRow] = heaps.iterator.flatMap(_.iterator)
  }

  /** Merge the tasks' candidates over `grid`: per slot, the K first in
    * rank order get ranks 1..K, then the cells without stats are dropped.
    * Rows ([[schema]]) come slot by slot in `emit` order, each slot's by
    * rank; slot i is sample `samples(i)`. */
  def rank(candidates: Seq[InternalRow], grid: StructType, samples: Seq[String],
      emit: Seq[Int], k: Int): Seq[InternalRow] = {
    val stats = statsType(grid)
    val bySlot = candidates.groupBy(_.getInt(0))
    emit.flatMap { s =>
      bySlot.getOrElse(s, Nil).sorted(order).take(k).zipWithIndex.collect {
        case (c, i) if !c.isNullAt(5) =>
          new GenericInternalRow((Seq(UTF8String.fromString(samples(s)), c.getLong(1),
            c.getUTF8String(2), i + 1, c.get(3, DoubleType)) ++
            c.getStruct(5, stats.size).toSeq(stats) :+ c.get(4, DoubleType)).toArray)
      }
    }
  }

  /** the top-K frame: one job collects the candidates, the driver ranks */
  def tophits(grid: DataFrame, samples: Seq[String], emit: Seq[Int], k: Int): DataFrame = {
    val (g, slots) = (grid.schema, samples.size)
    val candidates = CsvSink.collectPartitions(grid.select(inputs: _*)) { rows =>
      val heaps = new Heaps(g, slots, k, 0)
      rows.foreach(heaps.offer)
      heaps.result
    }
    val out = schema(g)
    val toRow = CatalystTypeConverters.createToScalaConverter(out)
    grid.sparkSession.createDataFrame(
      rank(candidates.toSeq, g, samples, emit, k).map(toRow(_).asInstanceOf[Row]).asJava, out)
  }
}
