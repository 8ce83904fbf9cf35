package graft.engine

import graft.cond._
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** Sequential-state execution of a `when` tree: `$each_t`, `$gate`, and
  * non-lowerable `$each_n`/`$limit` mutate per-query state in record-time
  * order, which is inherently a per-entry sequential scan — the same
  * constraint the reference has (one interpreted filter chain per entry,
  * records in block/ts order, storage/query/historical.rs:180-235).
  *
  * Scale model: entries hash-partition across the cluster
  * (`repartition($"entry")`) and each partition is sorted by (entry, ts),
  * so every entry streams through its own fresh interpreter + WhenFilter
  * state machine. Parallelism = number of entries; within one entry the
  * reference is sequential too, so this matches its semantics at equal
  * asymptotics. `$limit`'s Interrupt stops consuming that entry early
  * (limit.rs:30-43 → filters/when.rs:84-86).
  */
object StatefulKernel {

  def run(base: DataFrame, parsed: ParsedCondition, strict: Boolean): DataFrame = {
    val schema = base.schema
    graft.core.Partitioning.pinned(base, col("entry"))
      .sortWithinPartitions(col("entry"), col("ts"))
      .mapPartitions(rows => byEntry(rows, schema, parsed, strict))(Encoders.row(schema))
  }

  /** The per-entry filter loop: `rows`, sorted by (entry, ts), each
    * entry through a fresh [[WhenFilter]] + [[Interp]] chain — the
    * `#ctx_before`/`#ctx_after` padding, the `$limit` interrupt that
    * ends its entry, and `strict` errors. Shared by [[run]]'s
    * partitions and the store's driver-side reader
    * ([[SmallRead.answer]]). */
  def byEntry(rows: Iterator[Row], schema: StructType, parsed: ParsedCondition,
      strict: Boolean): Iterator[Row] = {
    val tsIdx = schema.fieldIndex("ts")
    val entryIdx = schema.fieldIndex("entry")
    val labelsIdx = schema.fieldIndex("labels")
    val computedIdx = schema.fieldIndex("computed_labels")
    val root = parsed.root
    val before = QueryEngine.padding(parsed.directives, "#ctx_before")
    val after = QueryEngine.padding(parsed.directives, "#ctx_after")
    new Iterator[Row] {
      private var currentEntry: String = null
      private var filter: WhenFilter = null
      private var interrupted = false
      private val out = mutable.Queue.empty[Row]

      @annotation.tailrec
      private def fill(): Unit =
        if (out.isEmpty && rows.hasNext) {
          val row = rows.next()
          val entry = row.getString(entryIdx)
          if (entry != currentEntry) { // fresh per-entry filter chain
            currentEntry = entry
            interrupted = false
            filter = new WhenFilter(new Interp(root), before, after, strict, tsIdx)
          }
          if (!interrupted) {
            filter.filter(row, mkCtx(row)) match {
              case None          => interrupted = true
              case Some(emitted) => out ++= emitted
            }
          }
          fill()
        }

      private def mkCtx(row: Row): Ctx = {
        val labels =
          if (row.isNullAt(labelsIdx)) Map.empty[String, String]
          else row.getMap[String, String](labelsIdx)
        val computed =
          if (row.isNullAt(computedIdx)) Map.empty[String, String]
          else row.getMap[String, String](computedIdx)
        Ctx(row.getLong(tsIdx), labels, computed)
      }

      def hasNext: Boolean = { fill(); out.nonEmpty }
      def next(): Row = { fill(); out.dequeue() }
    }
  }

  /** Port of `WhenFilter` (filters/when.rs:60-105) with the ctx_before ring
    * buffer (ctx_before.rs:60-81) and ctx_after latch (ctx_after.rs:53-70).
    * Returns None on `$limit` Interrupt — the buffered context of the final
    * match is already drained (when.rs test filter_ctx_before_with_limit).
    */
  private final class WhenFilter(
      interp: Interp,
      before: Option[QueryEngine.Padding],
      after: Option[QueryEngine.Padding],
      strict: Boolean,
      tsIdx: Int) {
    import QueryEngine.{PadDuration, PadRecords}

    private val buffer = mutable.ArrayDeque.empty[Row]
    private var afterCount = 0L
    private var afterLastTs: Option[Long] = None

    def filter(row: Row, ctx: Ctx): Option[Seq[Row]] = {
      queueRecord(row, ctx.timestamp)
      val result =
        try interp(ctx).asBool
        catch {
          case _: InterruptSignal => return None
          case e: CondError => if (strict) throw e else false
        }
      if (checkAfter(result, ctx.timestamp)) {
        val drained = buffer.toSeq
        buffer.clear()
        Some(drained)
      } else Some(Nil)
    }

    private def queueRecord(row: Row, ts: Long): Unit = {
      buffer.append(row)
      before match {
        case Some(PadRecords(n)) =>
          if (buffer.size > n + 1) buffer.removeHead()
        case Some(PadDuration(us)) =>
          var firstTs = tsOf(buffer.head)
          val lastTs = ts
          while (lastTs - firstTs > us) {
            buffer.removeHead()
            firstTs = if (buffer.isEmpty) 0L else tsOf(buffer.head)
          }
        case None =>
          if (buffer.size > 1) buffer.removeHead()
      }
    }

    private def tsOf(row: Row): Long = row.getLong(tsIdx)

    private def checkAfter(condition: Boolean, time: Long): Boolean =
      after match {
        case Some(PadRecords(n)) =>
          afterCount -= 1
          if (condition) afterCount = n.toLong
          afterCount >= 0
        case Some(PadDuration(us)) =>
          if (condition) afterLastTs = Some(time)
          afterLastTs.exists(_ + us >= time)
        case None =>
          condition
      }
  }
}
