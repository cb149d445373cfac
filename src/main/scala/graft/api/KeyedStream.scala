package graft.api

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.{OperatorContext, StatefulOperator}

/** A stream after `key_by` — the analog of arcon's `KeyedStream<T>`
  * (`/root/reference/arcon/src/dataflow/stream/keyed/mod.rs:5-13`). All
  * stateful and windowed operators hang off this, grouped (and therefore
  * hash-partitioned) by the extracted key.
  */
class KeyedStream[K, T](val stream: Stream[T], val keyFn: T => K)(
    implicit kEnc: Encoder[K]) extends Serializable {

  private def ds: Dataset[T] = stream.ds
  private implicit def tEnc: Encoder[T] = ds.encoder

  /** W7 ReducerState analog (`ReducerState`,
    * arcon/arcon_state/src/backend/mod.rs:204-216): per-key reduction. */
  def reduce(f: (T, T) => T): Stream[(K, T)] = {
    implicit val ktEnc: Encoder[(K, T)] = Encoders.tuple(kEnc, tEnc)
    new Stream(ds.groupByKey(keyFn).reduceGroups(f), SourceConf[(K, T)]())
  }

  /** W7 AggregatorState analog: full UDAF contract (create / add / merge /
    * result — arcon/arcon_state/src/backend/mod.rs:218-231), executed as a
    * Spark typed Aggregator: partial aggregation map-side, merge on the
    * reduce side — the reference never implemented `merge_accumulators`
    * (arcon/src/index/window/incremental.rs:49-55); Spark requires it, so
    * this surface is strictly more correct. */
  def aggregate[ACC, OUT](agg: ArconAggregator[T, ACC, OUT])(
      implicit accEnc: Encoder[ACC], outEnc: Encoder[OUT]): Stream[(K, OUT)] = {
    implicit val koEnc: Encoder[(K, OUT)] = Encoders.tuple(kEnc, outEnc)
    new Stream(
      ds.groupByKey(keyFn).agg(agg.toSparkAggregator.toColumn),
      SourceConf[(K, OUT)]())
  }

  /** T6 custom `Operator` (arcon/src/stream/operator/mod.rs:21-54): keyed
    * state + event-time timers + 1→N output.
    *
    * Streaming datasets run on `flatMapGroupsWithState`. Event-time
    * timeout — Spark's match for the reference's watermark-driven
    * `handle_timeout` (arcon/src/stream/node/mod.rs:379-395) — is only
    * legal when a watermark is declared, so it is chosen iff the stream
    * went through [[Stream.withWatermark]]; otherwise `NoTimeout` (timers
    * are inert, matching a reference pipeline that never advances the
    * watermark). Bounded datasets replay each key's elements in timestamp
    * order and then fire all pending timers (the end-of-stream watermark
    * is +∞, as in the reference's test harness where a final
    * max-watermark flushes all windows).
    */
  def operator[S, OUT](op: StatefulOperator[K, T, S, OUT])(
      implicit sEnc: Encoder[S], outEnc: Encoder[OUT]): Stream[OUT] = {
    val timeFn = stream.conf.timeExtractor
    val timersEnabled = stream.watermarked
    val fn: (K, Iterator[T], GroupState[(S, Array[Byte])]) => Iterator[OUT] =
      StatefulOperator.asFlatMapFunc(op, timeFn, timersEnabled)
    val out: Dataset[OUT] =
      if (ds.isStreaming) {
        val timeout =
          if (timersEnabled) GroupStateTimeout.EventTimeTimeout
          else GroupStateTimeout.NoTimeout
        implicit val stEnc: Encoder[(S, Array[Byte])] =
          Encoders.tuple(sEnc, Encoders.BINARY)
        ds.groupByKey(keyFn).flatMapGroupsWithState(OutputMode.Append, timeout)(fn)
      } else
        ds.groupByKey(keyFn).flatMapGroups { (k: K, it: Iterator[T]) =>
          StatefulOperator.runBounded(op, timeFn, k, it)
        }
    new Stream(out, SourceConf[OUT]())
  }

  /** T6/W6 modern path: custom operator with DECLARED state indexes
    * (value/appender/map — arcon's `ArconState` index layer,
    * `arcon/src/index/mod.rs:33-198`) and native multi-timers, running
    * on `transformWithState` when streaming (indexes become
    * engine-checkpointed state variables behind a write-back cache,
    * see [[TwsIndexState]]; event-time timers need
    * [[Stream.withWatermark]]) or per-key ordered replay with in-memory
    * indexes when bounded. */
  def indexOperator[OUT](op: graft.operators.IndexOperator[K, T, OUT])(
      implicit outEnc: Encoder[OUT]): Stream[OUT] = {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, StatefulProcessor, TimeMode, TimerValues}
    val timeFn = stream.conf.timeExtractor
    val out: Dataset[OUT] =
      if (ds.isStreaming) {
        val theOp = op
        val proc = new StatefulProcessor[K, T, OUT] {
          @transient private var st: TwsIndexState = _
          private def ctx(tv: TimerValues): graft.operators.TimerContext =
            new graft.operators.TimerContext {
              def scheduleAt(ts: Long): Unit = getHandle.registerTimer(ts)
              def deleteTimer(ts: Long): Unit = getHandle.deleteTimer(ts)
              def watermark: Long = tv.getCurrentWatermarkInMs()
            }
          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
            st = new TwsIndexState(getHandle)
            theOp.open(st)
          }
          // the indexes are write-back: flush once the call's output is
          // drained, while the engine still has the grouping key set
          private def flushed(out: Iterator[OUT]): Iterator[OUT] =
            out ++ { st.flush(); Iterator.empty }
          override def handleInputRows(key: K, rows: Iterator[T],
              timerValues: TimerValues): Iterator[OUT] = {
            val c = ctx(timerValues)
            flushed(rows.flatMap(r => theOp.handleElement(key, r, timeFn.map(f => f(r)), c)))
          }
          override def handleExpiredTimer(key: K, timerValues: TimerValues,
              expiredTimerInfo: ExpiredTimerInfo): Iterator[OUT] =
            flushed(theOp.handleTimer(key, expiredTimerInfo.getExpiryTimeInMs(), ctx(timerValues)))
        }
        val timeMode =
          if (stream.watermarked) TimeMode.EventTime() else TimeMode.None()
        ds.groupByKey(keyFn).transformWithState(proc, timeMode, OutputMode.Append())
      } else
        ds.groupByKey(keyFn).flatMapGroups { (k: K, it: Iterator[T]) =>
          graft.operators.IndexOperator.runBounded(op, timeFn, k, it)
        }
    new Stream(out, SourceConf[OUT]())
  }

  /** W1 window assigner entry point
    * (arcon/src/stream/operator/window/assigner.rs): tumbling/sliding
    * event-time windows over this keyed stream. Requires a timestamp
    * extractor on the source conf (`ArconTime::Event` contract). */
  def window(assigner: WindowAssigner): WindowedStream[K, T] = {
    require(stream.conf.timeExtractor.isDefined,
      "window() needs an event-time extractor: stream.withTimestampExtractor(...)")
    new WindowedStream(this, assigner)
  }
}

/** The reference's `Aggregator` contract verbatim
  * (arcon/arcon_state/src/backend/mod.rs:218-231). */
trait ArconAggregator[IN, ACC, OUT] extends Serializable {
  def createAccumulator(): ACC
  def add(acc: ACC, value: IN): ACC
  def mergeAccumulators(a: ACC, b: ACC): ACC
  def accumulatorIntoResult(acc: ACC): OUT

  /** Adapt to Spark's typed Aggregator (partial+final agg in Catalyst). */
  def toSparkAggregator(implicit accEnc: Encoder[ACC],
      outEnc: Encoder[OUT]): org.apache.spark.sql.expressions.Aggregator[IN, ACC, OUT] = {
    val self = this
    new org.apache.spark.sql.expressions.Aggregator[IN, ACC, OUT] {
      def zero: ACC = self.createAccumulator()
      def reduce(b: ACC, a: IN): ACC = self.add(b, a)
      def merge(b1: ACC, b2: ACC): ACC = self.mergeAccumulators(b1, b2)
      def finish(r: ACC): OUT = self.accumulatorIntoResult(r)
      def bufferEncoder: Encoder[ACC] = accEnc
      def outputEncoder: Encoder[OUT] = outEnc
    }
  }
}
