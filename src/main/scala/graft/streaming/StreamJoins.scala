package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream joins and ingest-time decontamination. Stream-stream inner
  * joins need watermarks on both sides plus a time-range condition so the
  * state store can evict: without the range bound, state grows without
  * limit at 100 TB/day ingest.
  */
object StreamJoins {

  /** Stream-stream join: click events to purchase events by user, purchase
    * within [click, click + window]. Both sides watermarked; the range
    * condition bounds state retention on both stores.
    *
    * `joinType` "inner" (default) or "left_outer". Event-time semantics
    * (asserted row-exactly in StreamingSpec):
    *  - a row older than the watermark on EITHER side is dropped before
    *    the join — a late click/purchase pair that would have matched
    *    produces nothing;
    *  - left-outer emits the null-extended row for an unmatched click only
    *    once the watermark passes `c_ts + joinWindow` (no match can still
    *    arrive), i.e. in a LATER micro-batch than the click itself — the
    *    state-eviction point, which is also what keeps the store bounded;
    *  - unmatched purchases never emit under left-outer (right side is
    *    the probe, not the preserved side). */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame,
                      watermark: String = "1 hour", joinWindow: String = "30 minutes",
                      joinType: String = "inner"): DataFrame = {
    // fail at construction, not at stream start: only these two types have
    // the watermark/state semantics this operator documents
    require(Set("inner", "left_outer")(joinType),
      s"joinType must be 'inner' or 'left_outer', got '$joinType'")
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    c.join(p,
      col("c_user") === col("p_user") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") <= col("c_ts") + expr(s"INTERVAL $joinWindow"),
      joinType)
  }

  /** Streaming decontamination: the ingest-time twin of
    * [[graft.ops.Text.decontaminate]]. Each arriving document (doc_id,
    * text) is flagged `contaminated` iff it shares at least one n-token
    * shingle with the STATIC eval corpus, so a training pipeline can
    * divert contaminated docs at ingest instead of re-scanning the corpus
    * later. Emits (doc_id, text, contaminated) — the caller filters or
    * routes.
    *
    * Shape: the distinct eval shingle set is computed ONCE (batch side,
    * at stream construction), sorted, and broadcast; each arriving row is
    * flagged by an early-exit binary-search membership scan using the
    * SAME hash kernel as the batch operator
    * ([[graft.functions.ShingleHashes.anyShingleIn]] — one definition, so
    * ingest-time flags can never diverge from a later batch sweep). This
    * is a stateless per-row map: no state store, no join state, no
    * watermark needed — throughput is pure per-batch map cost, and the
    * broadcast is benchmark-sized (the same tiny-eval argument as the
    * batch operator's broadcast semi-join). A shingle-explode + semi-join
    * per micro-batch would flag identically but re-shuffle every batch;
    * flag-and-route wants the O(tokens · log evalShingles) row scan. */
  def decontaminateStream(docs: DataFrame, evalDocs: DataFrame, n: Int = 13): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val evalSh = graft.ops.Text.withTokens(evalDocs)
      .filter(size(col("t")) >= n)
      .select(explode(expr(s"graft_shingles(t, $n)")).as("h"))
      .distinct().as[Long].collect()
    java.util.Arrays.sort(evalSh)
    val bc = spark.sparkContext.broadcast(evalSh)
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val sorted = bc.value
        it.map { case (id, text) =>
          (id, text, graft.functions.ShingleHashes.anyShingleIn(
            graft.functions.EngineMath.tokens(text), n, sorted))
        }
      }.toDF("doc_id", "text", "contaminated")
  }
}
