package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Buffer for [[TokenStatsAgg]]: exact longs, so merge order never
  * matters. */
case class TokenStatsBuf(nDocs: Long, totalTokens: Long, maxTokens: Long)

/** Output of [[TokenStatsAgg]]. */
case class TokenStatsOut(n_docs: Long, total_tokens: Long, max_tokens: Long,
    mean_tokens: Double)

/** Typed `Aggregator[IN, BUF, OUT]` — the user-facing strongly-typed
  * aggregation API (SURVEY §2.10's anticipated extension surface;
  * contrast with the Catalyst-level TypedImperativeAggregate
  * CountMinAgg). Computes per-group token statistics over documents:
  * doc count, total/max token counts, and mean tokens per doc.
  *
  * The buffer is exact longs and the single final division is
  * bit-identical across engines — safe for the oracle hash. Spark plans
  * this as a partial/final object hash aggregate: the buffer merges
  * map-side like any built-in agg.
  */
object TokenStatsAgg extends Aggregator[Long, TokenStatsBuf, TokenStatsOut] {

  override def zero: TokenStatsBuf = TokenStatsBuf(0L, 0L, 0L)

  override def reduce(b: TokenStatsBuf, tokens: Long): TokenStatsBuf =
    TokenStatsBuf(b.nDocs + 1, b.totalTokens + tokens, math.max(b.maxTokens, tokens))

  override def merge(a: TokenStatsBuf, b: TokenStatsBuf): TokenStatsBuf =
    TokenStatsBuf(a.nDocs + b.nDocs, a.totalTokens + b.totalTokens,
      math.max(a.maxTokens, b.maxTokens))

  override def finish(b: TokenStatsBuf): TokenStatsOut =
    TokenStatsOut(b.nDocs, b.totalTokens, b.maxTokens,
      if (b.nDocs == 0) 0.0 else b.totalTokens.toDouble / b.nDocs)

  override def bufferEncoder: Encoder[TokenStatsBuf] = Encoders.product[TokenStatsBuf]
  override def outputEncoder: Encoder[TokenStatsOut] = Encoders.product[TokenStatsOut]
}
