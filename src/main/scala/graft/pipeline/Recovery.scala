package graft.pipeline

import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.{coalesce, col, lit, udaf}
import org.apache.spark.sql.{Column, Encoder, Encoders}

/** The reference's sequential recovery pass (lib.rs:58-104), one line at a
  * time: the truncated-line lookahead, the doc abort and the doc-relative
  * time. This is the only implementation of that loop: the stream's per-doc
  * driver ([[graft.streaming.StreamingPipeline]]) calls [[step]] line by
  * line, and batch runs it as a running window aggregate ([[running]]) down
  * each doc in line order ([[TfPipeline.routable]], [[TfPipeline.routed]]).
  * A typed-field error either drops silently (params embed a same-date
  * `L MM/DD/YYYY`) or consumes the next line unevaluated, dropping both when
  * that line parses OK more than 60 s later (an invalid date counts as 0)
  * and aborting the doc otherwise; nothing is left to consume at the doc's
  * end (`break`). A Malformed envelope and a handled line with an invalid
  * date (the process path's `unwrap()`) abort the doc too. */
object Recovery {

  /** The pointwise-classified fields of a line that [[step]] reads
    * ([[TfPipeline.classifyPointwise]]). `tsOpt` is None on an invalid date. */
  trait Line {
    def line_no: Long
    def status: Byte
    def handled: Boolean
    def typed_err: Boolean
    def rescue_a: Boolean
    def tsOpt: Option[Long]
  }

  /** The control state after a doc's lines so far. `pendingConsumeTs` is
    * Some(errTs) when the NEXT line is consumed by a just-evaluated error;
    * `aborted` is sticky; `nextLine` is the line after the last one stepped
    * (the stream's cross-batch resume guard). The stream keeps it as keyed
    * state, so its field names and types are its stored schema. */
  final case class Ctl(
      startTs: Option[Long] = None,
      pendingConsumeTs: Option[Long] = None,
      aborted: Boolean = false,
      nextLine: Long = 0L
  )

  /** What one step says about its line: `consumed` by the previous line's
    * error (so never evaluated); `pair_abort`, consumed and failing the
    * >60 s test, which makes the consuming line a hard error; `aborted`,
    * the doc has aborted at or before the line; `time`, the doc-relative
    * u32 time, Some exactly on a surviving handled line. */
  final case class Step(consumed: Boolean, pair_abort: Boolean, aborted: Boolean, time: Option[Long])

  /** Advances the recovery by one line. Lines after an abort step on (the
    * batch route labels still need them); the stream stops at the abort. */
  def step(c: Ctl, l: Line): (Ctl, Step) = {
    val st = c.copy(nextLine = l.line_no + 1)
    def skip(next: Ctl) = (next, Step(consumed = false, pair_abort = false, next.aborted, None))
    st.pendingConsumeTs match {
      case Some(errTs) =>
        val pairAbort = !(l.status == 0 && l.tsOpt.getOrElse(0L) - errTs > 60)
        val next = st.copy(pendingConsumeTs = None, aborted = st.aborted || pairAbort)
        (next, Step(consumed = true, pairAbort, next.aborted, None))
      case None =>
        if (l.status == 2) skip(st.copy(aborted = true))
        else if (l.status != 0 || !l.handled) skip(st)
        else if (l.typed_err) skip(if (l.rescue_a) st else st.copy(pendingConsumeTs = Some(l.tsOpt.getOrElse(0L))))
        else l.tsOpt match {
          case None => skip(st.copy(aborted = true))
          case Some(ts) =>
            val start = st.startTs.getOrElse(ts)
            val time = Some((ts - start) & 0xffffffffL)
            (st.copy(startTs = Some(start)), Step(consumed = false, pair_abort = false, st.aborted, time))
        }
    }
  }

  /** A line as the batch aggregate reads it: the columns `line_no`,
    * `status`, `handled`, `typed_err`, `rescue_a` and `ts`, by position. */
  final case class In(line_no: Long, status: Byte, handled: Boolean, typed_err: Boolean, rescue_a: Boolean,
      tsOpt: Option[Long]) extends Line

  /** The aggregate's buffer: the control and the last line's step. */
  final case class Run(ctl: Ctl, last: Step)

  /** [[step]] as an aggregate. Only meaningful over a running frame of one
    * doc in line order, where Spark feeds the rows in order and evaluates
    * after each: there is no merge of two partial runs. */
  private object Steps extends Aggregator[In, Run, Step] {
    def zero: Run = Run(Ctl(), Step(consumed = false, pair_abort = false, aborted = false, None))
    def reduce(r: Run, l: In): Run = { val (c, s) = step(r.ctl, l); Run(c, s) }
    def merge(a: Run, b: Run): Run =
      throw new UnsupportedOperationException("the recovery step is order-dependent: run it over a running window")
    def finish(r: Run): Step = r.last
    def bufferEncoder: Encoder[Run] = Encoders.product[Run]
    def outputEncoder: Encoder[Step] = Encoders.product[Step]
  }

  private val steps: UserDefinedFunction = udaf(Steps, Encoders.product[In])

  /** The per-line [[Step]] struct; evaluate it `.over` a (doc_id) window
    * ordered by line_no with a rowsBetween(unboundedPreceding, currentRow)
    * frame. State: one doc's [[Ctl]] at a time. */
  def running: Column = {
    def flag(name: String) = coalesce(col(name), lit(false))
    steps(col("line_no"), col("status"), flag("handled"), flag("typed_err"), flag("rescue_a"), col("ts"))
  }
}
