package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.indicators.IndicatorFold
import graft.model.Schemas.{IndicatorRow, PriceTick}

/** Streaming-native technical indicators: per-key state carried across
  * micro-batches with `flatMapGroupsWithState`.
  *
  * The incremental counterpart of [[Pipeline.deriveIndicators]], which
  * re-reads the full stored history of every series a batch touches
  * (`GroupState` lives in a streaming query, not across `processBatch`
  * calls). Here each (coin_id, exchange) key holds O(1) state — the last
  * 20 prices, three EMA accumulators and the row count — and each
  * arriving tick emits exactly one indicator row, so a batch reads only
  * its own ticks. State size is `#keys × (20 doubles + 4 longs)`,
  * independent of history length.
  *
  * Both paths fold the same kernel, [[IndicatorFold]], so results are
  * bit-identical to the batch window formulation
  * ([[graft.indicators.Indicators.withIndicators]]; StatefulIndicatorsSpec
  * compares with exact equality).
  *
  * Ordering contract: ticks may arrive out of order WITHIN a micro-batch
  * (sorted here before folding) but must not straddle batches out of
  * order — the same contract the reference's Cassandra-upsert design
  * implies. For late cross-batch data, recompute the affected keys via
  * the batch path.
  */
object StatefulIndicators {

  /** Per-key carried state: ring of the trailing <=20 prices (covers the
    * SMA-20 window and the 15 prices behind RSI-14's deltas), EMA
    * accumulators, and the row count (for leading-null masks). */
  final case class IndState(
      recent: List[Double],
      ema12: Double,
      ema20: Double,
      ema26: Double,
      n: Long)

  private def flatMapFn(
      key: (String, String),
      rows: Iterator[PriceTick],
      state: GroupState[IndState]): Iterator[IndicatorRow] = {
    val sorted = rows.toSeq.sortBy(t => (t.timestamp.getTime, t.price))
    val fold = new IndicatorFold
    state.getOption.foreach(s => fold.restore(s.recent, s.ema12, s.ema20, s.ema26, s.n))
    val out = sorted.map { t =>
      fold.push(t.price)
      fold.emit(key._1, key._2, t.timestamp)
    }
    if (fold.rows > 0)
      state.update(IndState(fold.recent, fold.ema12, fold.ema20, fold.ema26, fold.rows))
    out.iterator
  }

  /** Attach to a (streaming or batch) tick Dataset. On a stream, wire the
    * result to `writeStream.outputMode("append")`. */
  def attach(ticks: Dataset[PriceTick]): Dataset[IndicatorRow] = {
    implicit val keyEnc: Encoder[(String, String)] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING)
    implicit val stateEnc: Encoder[IndState] = Encoders.product[IndState]
    implicit val outEnc: Encoder[IndicatorRow] = Encoders.product[IndicatorRow]
    ticks
      .groupByKey(t => (t.coin_id, t.exchange))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(flatMapFn)
  }
}
