package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType
import graft.functions.Shingles
import graft.ops.{Dedup, Streamish}

/** Running per-user totals — the state carried by [[Streaming.runningUserTotals]]. */
final case class UserTotals(user_id: Long, n_events: Long, sum_value: Double)

/** The one open session per user held in state by [[Streaming.sessionsViaState]]
  * (timestamps as epoch micros).
  */
final case class OpenSession(start: Long, last: Long, n: Long)

/** A closed session emitted by [[Streaming.sessionsViaState]]. */
final case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp, n_events: Long)

/** The last seen event per user carried by [[Streaming.transitionsViaState]]
  * (timestamp as epoch micros, event_id as the tie-break).
  */
final case class LastEvent(us: Long, event_id: Long, event_type: String)

/** Per-user distinct event types already emitted (ev_lift streaming twin). */
final case class SeenTypes(types: Seq[String])

/** A first-sighting (user, type) pair from [[Streaming.firstSeenPairsViaState]]. */
final case class TypePair(user_id: Long, event_type: String)

/** Running byte total + last-assigned doc of one (media_type, lane) shard
  * stream; `lastDoc` enforces the in-order-per-lane arrival contract.
  */
final case class LaneCum(cum: Long, lastDoc: Long)

/** A shard assignment emitted by [[Streaming.shardAssignViaState]];
  * `in_order=false` flags an arrival that violated the per-lane ordering
  * contract (its assignment may diverge from the batch manifest).
  */
final case class ShardAssign(doc_id: Long, media_type: String, sub: Long,
    n_bytes: Long, shard_seq: Long, in_order: Boolean)

/** One consecutive-event transition emitted by [[Streaming.transitionsViaState]]. */
final case class Transition(cur_type: String, next_type: String)

/** CEP state for [[Streaming.bingeMatchesViaState]]: the current
  * consecutive-`view` run length SATURATED at 2 (the pattern only asks
  * "≥ 2", so longer runs need no extra state) plus events seen so far
  * (the batch operator's SeqCap parity counter) — O(1) per user however
  * long the stream.
  */
final case class BingeState(run: Int, seen: Long)

/** One completed binge-conversion match emitted by
  * [[Streaming.bingeMatchesViaState]]; `event_id` is the consuming
  * purchase's.
  */
final case class BingeMatch(user_id: Long, event_id: Long)

/** One not-yet-resolved `view` awaiting its purchase-or-deadline. */
final case class PendView(event_id: Long, ts_us: Long)

/** [[Streaming.abandonViaTimers]] state: the user's pending views, oldest
  * first — bounded by views per user per deadline window, not history.
  */
final case class AbandonPend(pending: Seq[PendView])

/** One resolved view: converted (with its exact µs lag) or abandoned. */
final case class AbandonVerdict(user_id: Long, event_id: Long,
    converted: Boolean, lag_us: Long)

/** One exactly-once MERGE action from [[Streaming.upsertAuditViaState]]:
  * `prev_price` is the replaced base price for an update, None for an insert.
  */
final case class UpsertAction(o_orderkey: Long, o_totalprice: Double,
    prev_price: Option[Double], action: String)

/** A per-(doc, trigram) novelty verdict from [[Streaming.noveltyViaState]]. */
final case class TriNovel(doc_id: Long, novel: Boolean)

/** One doc held in a source's bounded top-k state ([[Streaming.domainCapViaState]]). */
final case class CapDoc(quality: Double, doc_id: Long)

/** Per-source running top-k state: a monotone update counter plus the ≤ cap
  * currently-kept docs — NEVER more, whatever the domain's size.
  */
final case class CapState(seq: Long, kept: Seq[CapDoc])

/** One currently-kept doc emitted by [[Streaming.domainCapViaState]] after a
  * micro-batch touched its source; `seq` identifies the source's latest
  * emission (rows with the source's max seq ARE its current keep-list).
  */
final case class DomainKeep(source: String, rnk: Int, doc_id: Long,
    quality: Double, seq: Long)

/** One (doc_id, pos) occurrence of a window digest, held in that digest's
  * bounded state ([[Streaming.substringMatchesViaState]]).
  */
final case class WinOcc(doc_id: Long, pos: Long)

/** Per-digest substring-twin state: occurrences seen so far, or a poisoned
  * marker once the occurrence cap is crossed (occurrence list dropped).
  */
final case class SubWinState(occ: Seq[WinOcc], poisoned: Boolean)

/** A cross-doc window match (or a `poison` tombstone retracting every match
  * of `wh`) emitted by [[Streaming.substringMatchesViaState]].
  */
final case class WinMatch(wh: String, doc_a: Long, doc_b: Long,
    pa: Long, pb: Long, poison: Boolean)

/** Event-time epoch state for [[Streaming.noveltyViaStateEventTtl]]: the
  * current epoch's first carrier plus its last sighting (event-time ms).
  */
final case class NovEpoch(firstDoc: Long, lastMs: Long)

/** One (doc_id, pos) occurrence tagged with its event time (ms), held by
  * [[Streaming.substringMatchesViaStateEventTtl]].
  */
final case class WinOccEv(doc_id: Long, pos: Long, ms: Long)

/** Per-digest event-time substring state: the current epoch's occurrences
  * (or poison marker) plus the digest's last sighting (event-time ms).
  */
final case class SubWinEvState(occ: Seq[WinOccEv], poisoned: Boolean,
    lastMs: Long)

/** One signature group's running keep-list entry held in state by
  * [[Streaming.phashKeepViaState]]: canonical doc (min seen) + merge count.
  */
final case class SigGroup(doc_id: Long, n: Long)

/** A keep-list emission from [[Streaming.phashKeepViaState]]. `n_merged`
  * is strictly monotone per `sig` (one emission per touched group per
  * micro-batch), so a group's latest entry is its max-`n_merged` row.
  */
final case class SigKeep(sig: Long, doc_id: Long, n_merged: Long)

/** One pre-state row of [[Streaming.ingestClassifyViaBands]]: a batch doc
  * with its exact fingerprint, corpus-fp-hit flag, and (possibly several,
  * OR-reduced in the state fn) near-dup verify verdicts.
  */
final case class IngestRow(doc_id: Long, fp: Option[String],
    corpus: Boolean, near: Boolean)

/** Per-distinct-fingerprint state of [[Streaming.ingestClassifyViaBands]]:
  * how many batch docs with this fingerprint have been classified so far
  * (the streaming form of dd_neardup_ingest's row_number over fp).
  */
final case class FpSeen(n: Long)

/** A classification emitted by [[Streaming.ingestClassifyViaBands]]. */
final case class IngestStatus(doc_id: Long, status: String)

/** Structured Streaming surface: the same event-time semantics as the batch
  * [[graft.ops.Streamish]] battery, expressed incrementally —
  * `readStream` → transforms → `writeStream`. The reference has no streaming
  * at all (SURVEY §2.2; README.md:13-15 is an unimplemented TODO), so there
  * is no reference behavior to match; this module demonstrates that the
  * engine's event-time operators are streaming-native, and
  * StreamingSpec pins streaming ≡ batch on the shared fixture.
  *
  * Scale notes: the file source incrementalizes by new files (a 100 TB event
  * log streams as it lands); watermarks bound window state; session windows
  * use Spark's native gap-merge state store; `mapGroupsWithState` keeps one
  * small state row per user, hash-partitioned by the group key.
  */
object Streaming {

  /** Unbounded view of the events table: a file-stream source over the same
    * parquet the batch queries read (new files appearing under `dir` would
    * stream in incrementally). Same ts normalization as
    * [[graft.Tables.events]]: parquet TIMESTAMP(NANOS) (read as a nanos
    * long under the legacy conf) and plain TIMESTAMP(US)/NTZ both land on
    * a µs TimestampType.
    */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = graft.Tables.schema(s, dir, "events")
    graft.Tables.normalizeTs(
      s.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Unbounded view of the documents table (same file-stream shape as
    * [[eventsStream]]): new document files landing under `dir` would stream
    * in incrementally — the ingest path of a continuously-crawled corpus.
    */
  def documentsStream(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.schema(s, dir, "documents")
    s.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
  }

  /** Unbounded view of the lineitem table (same file-stream shape as
    * [[eventsStream]]) — the fact-feed half of a streaming metrics store.
    */
  def lineitemStream(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.schema(s, dir, "lineitem")
    s.readStream
      .schema(schema)
      .option("pathGlobFilter", "lineitem.parquet")
      .parquet(dir)
  }

  /** Unbounded view of the orders table (same file-stream shape as
    * [[eventsStream]]) — the arriving-fact feed a live materialized view
    * maintains itself from.
    */
  def ordersStream(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.schema(s, dir, "orders")
    s.readStream
      .schema(schema)
      .option("pathGlobFilter", "orders.parquet")
      .parquet(dir)
  }

  /** Streaming twin of q_mv_refresh: the materialized view maintained LIVE.
    * Arriving orders pass through the SAME dim enrichment as the batch op
    * (stream-static customer equi-join + broadcast nation — stateless) and
    * fold into the same mergeable state a batch refresh union-merges:
    * count, exact integer-cents sum, max, HLL customer sketch, one
    * update-mode state row per (nation, month) — bounded by the view's own
    * key space, never by order volume. Because every stat is mergeable
    * (sums add, maxes max, HLL registers max per slot — all
    * order-independent), the one-pass streamed state EQUALS the batch
    * snapshot∪delta merge including the sketch estimate, which
    * StreamingSpec pins exactly — the streaming query IS the proof that
    * the view's state algebra is incremental.
    */
  def mvViewStreaming(orders: DataFrame, customer: DataFrame,
      nation: DataFrame): DataFrame =
    graft.ops.Relational.mvServe(
      graft.ops.Relational.mvPartialOf(
        graft.ops.Relational.mvEnrichedOf(orders, customer, nation)))

  /** Streaming twin of q_histogram: the distribution profile maintained
    * AGAINST A FIXED BUCKET LAYOUT as facts arrive — exactly how a
    * production histogram store works (boundaries come from the previous
    * ANALYZE snapshot; only the per-bucket accumulators update). State is
    * ≤ [[graft.ops.Relational.HistBuckets]] rows of (count, min, max,
    * sum) — fixed memory at any ingest volume, the CMS/HLL argument
    * applied to the histogram. Same quantize + bucket arithmetic as the
    * batch op, so with the same (cmin, cmax) snapshot the streamed
    * accumulators are bit-identical to a batch build (StreamingSpec pins
    * it).
    */
  def histogramStreaming(li: DataFrame, cmin: Long, cmax: Long): DataFrame =
    li.select(expr("cast(round(l_extendedprice * 100, 0) as bigint)").as("c"))
      .withColumn("bucket", expr(
        s"((c - ${cmin}L) * ${graft.ops.Relational.HistBuckets}L)" +
          s" div (${cmax}L - ${cmin}L + 1)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("c").as("lo_cents"), max("c").as("hi_cents"),
        sum("c").as("sum_cents"))

  /** Streaming twin of txt_blocklist: the wordlist gate served STATELESS
    * at ingest — the flagged count is a per-row higher-order filter over
    * the token array (streaming-legal, zero state, zero shuffle; the
    * batch plan's explode+join formulation is the codegen-friendly bulk
    * shape, the per-row fold is the serving shape — the classifier-scorer
    * precedent), and the density/keep verdict is the SHARED
    * [[graft.ops.TextOps.withBlockVerdict]] expression set, so batch and
    * serving cannot drift on rounding or the boundary compare.
    */
  def blocklistStreaming(docs: DataFrame): DataFrame = {
    val toks = graft.ops.TextOps.tokens(col("text"))
    graft.ops.TextOps.withBlockVerdict(
      docs.select(col("doc_id"), size(toks).as("n_tokens"),
        size(filter(toks, t => t.isin(graft.ops.TextOps.BlockList: _*)))
          .cast("long").as("n_flagged")))
  }

  /** Streaming twin of the batch `dd_exact` family: incremental exact dedup
    * on the md5 token-stream fingerprint via
    * `dropDuplicatesWithinWatermark` — the first document seen per
    * fingerprint is emitted, later duplicates are dropped, and fingerprint
    * state older than the watermark horizon is evicted (bounded state
    * forever; a duplicate arriving beyond the horizon re-emits — the
    * documented recall trade of watermarked dedup). The fixture has no
    * ingest timestamp, so arrival time is synthesized deterministically
    * from doc_id (1 s apart).
    */
  def dedupByFingerprint(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Dedup.toks.as("toks"))
      .select(col("doc_id"), Dedup.fpExpr,
        // +1 day: a synthesized arrival of exactly epoch 0 (doc_id 0) is
        // ≤ the stream's initial watermark and would be discarded as late
        timestamp_seconds(col("doc_id") + lit(86400)).as("arrival"))
      .withWatermark("arrival", "1 hour")
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming twin of the batch `dd_incremental`: the daily-crawl ingest
    * path, incrementally. The incoming (odd-doc_id) document stream is
    * scrubbed against a STATIC corpus-snapshot fingerprint set via a
    * stream-static LEFT ANTI join — the snapshot side reduces to distinct
    * 32-byte fingerprints and broadcasts per micro-batch, so the stream
    * never shuffles — then deduped within the stream itself by watermarked
    * fingerprint state. Survivors are exactly the docs the batch operator
    * classifies `new`; `dup_corpus` dies at the anti join, `dup_batch` in
    * the state store. NULL fingerprints (empty docs) pass the anti join
    * (no equality match) and then collapse to one survivor in the
    * fingerprint state — the batch semantics exactly.
    */
  def incrementalNewDocs(s: SparkSession, dir: String, docs: DataFrame): DataFrame = {
    val snapshot = graft.Tables.documents(s, dir)
      .filter(col("doc_id") % 2 === 0)
      .select(Dedup.toks.as("toks"))
      .select(Dedup.fpExpr.as("snap_fp"))
      .filter(col("snap_fp").isNotNull).distinct()
    docs
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), Dedup.toks.as("toks"))
      .select(col("doc_id"), Dedup.fpExpr,
        timestamp_seconds(col("doc_id") + lit(86400)).as("arrival"))
      .join(broadcast(snapshot), col("fp") === col("snap_fp"), "left_anti")
      .withWatermark("arrival", "1 hour")
      .dropDuplicatesWithinWatermark("fp")
  }

  /** Streaming twin of `ev_tumbling`: watermarked 1-hour tumbling windows.
    * The 2-hour watermark lets the state store evict every window older
    * than the stream's high-water mark minus 2 h — bounded state forever.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"),
        col("sum_value"))

  /** Streaming twin of `ev_windowed_topk`'s aggregate half: watermarked
    * 6-hour tumbling (window, type) counts with exact-DECIMAL value sums.
    * The rank is deliberately NOT in the stream — row_number over a
    * window's types only makes sense once the window is FINAL, so the
    * leaderboard rank runs as a cheap bounded post-pass (foreachBatch or
    * the serving read) over emitted windows; StreamingSpec applies exactly
    * that post-rank and pins the result to the batch operator.
    */
  def trendingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"),
        col("sum_value"))

  /** Streaming twin of `q_approx_topk`'s sketch build: a COUNT-MIN SKETCH
    * over the token stream of arriving documents, as a plain streaming
    * aggregation on the (hash-row, bucket) increments — shared bucket
    * expression with the batch build
    * ([[graft.ops.Relational.cmsBuckets]]), so after any ingest order the
    * streaming counters are BIT-IDENTICAL to a batch sketch of the same
    * corpus (counter addition commutes). This is the streaming sketch's
    * whole point at 100 TB: the aggregation state is EXACTLY d·w rows —
    * [[graft.ops.Relational.CmsRows]]·[[graft.ops.Relational.CmsWidth]] =
    * 32k counters — no matter how many distinct tokens the stream ever
    * carries, where the exact streaming top-k twin would hold one state row
    * per distinct key forever. Heavy-hitter estimates read min-over-d from
    * the sink table at any time (never under the true count; overshoot
    * bounded by the CMS contract StreamingSpec re-checks online).
    */
  def cmsTokensViaAgg(docs: DataFrame): DataFrame =
    docs
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("t"))
      .select(explode(graft.ops.Relational.cmsBuckets(col("t"))).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cms"))

  /** Streaming twin of `txt_classifier_score` — the quality filter ON the
    * ingest firehose. The trained artifact arrives as the 1-row
    * [[graft.ops.TextOps.trainedScorerOf]] table (weight map + bias,
    * bounded by EmbedDim + 1); scoring exploits the dot product
    * distributing over tokens (`Σ_dims w·x ≡ Σ_tokens w[dim(t)]·sign(t)`),
    * so each arriving document is scored by ONE per-row integer fold after
    * a stream-static broadcast join against the scorer row: ZERO streaming
    * state, zero shuffle, no per-doc feature aggregation anywhere. This is
    * the strongest scale shape in the streaming battery — the classifier
    * serves at raw ingest bandwidth on any number of executors, and the
    * emitted margin composes with any downstream threshold (the batch
    * operator's contract). Shared [[graft.ops.TextOps.featDim]] /
    * [[graft.ops.TextOps.featSign]] / tokens expressions keep stream and
    * batch from drifting.
    */
  def scoredDocsStreaming(docs: DataFrame, scorer: DataFrame): DataFrame = {
    val T = graft.ops.TextOps
    docs
      .withColumn("k", lit(1))
      .join(broadcast(scorer.withColumn("k", lit(1))), "k")
      .select(col("doc_id"),
        (col("bias") + aggregate(T.tokens(col("text")), lit(0L), (acc, t) =>
          acc + coalesce(element_at(col("wmap"), T.featDim(t)), lit(0L)) *
            T.featSign(t))).as("score"))
      .withColumn("pred", when(col("score") > 0, lit(1L)).otherwise(lit(-1L)))
  }

  /** Streaming twin of `ev_session`: Spark's native gap-based
    * `session_window` (30-minute gap), the incremental form of the batch
    * lag+cumsum sessionization — the state store merges/extends open
    * sessions as events arrive and the watermark closes them.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"))

  /** Watermarked stream-stream INNER join (a self-join of the event
    * stream): every purchase is attributed to the same user's clicks in the
    * preceding hour — the funnel/attribution join. Both inputs carry
    * watermarks and the join condition bounds event time from both sides,
    * which is what lets the state store EVICT: a click older than
    * (watermark − 1 h) can never match a future purchase, so join state
    * stays bounded on an unbounded stream. Without the time bound the
    * buffered sides grow forever — the canonical stream-join mistake.
    */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "2 hours")
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("c_ts"), col("p_ts"), col("value"))
  }

  /** Stream-static enrichment join: every purchase event is decorated with
    * the (static) customer dimension — market segment and nation name via
    * customer ⋈ nation. The stream side needs no watermark (static rows
    * never expire) and the dimension is broadcast, so each micro-batch pays
    * a map-side hash join with ZERO shuffle of the stream — the shape a
    * 100 TB/day event feed needs when the dimension fits in executor
    * memory. Left join keeps purchases from users outside the dimension
    * (nulls flag referential gaps instead of silently dropping revenue).
    */
  def enrichedPurchases(s: SparkSession, dir: String, events: DataFrame): DataFrame = {
    val dim = graft.Tables.customer(s, dir)
      .join(graft.Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_mktsegment"), col("n_name").as("nation"))
    events.filter(col("event_type") === "purchase")
      .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("c_mktsegment"), col("nation"))
  }

  private val GapUs = 30L * 60 * 1000000

  /** Hand-rolled sessionization through `flatMapGroupsWithState` — the
    * fully-custom-state twin of [[sessionCounts]]: each user's open session
    * lives in state; a gap > 30 min CLOSES it (emitted downstream
    * immediately) and opens a new one. This is the slot for session logic
    * `session_window` can't express (e.g. value-dependent gaps); the open
    * session stays in state until a later batch closes it.
    */
  def sessionsViaState(s: SparkSession, events: DataFrame): Dataset[ClosedSession] = {
    import s.implicits._
    events.select(col("user_id"), unix_micros(col("ts")).as("us")).as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[OpenSession]) =>
          def toTs(us: Long) = java.sql.Timestamp.from(
            java.time.Instant.ofEpochSecond(us / 1000000, (us % 1000000) * 1000))
          val times = rows.map(_._2).toArray.sorted // batch arrival is unordered
          val closed = scala.collection.mutable.ListBuffer[ClosedSession]()
          var cur = state.getOption
          times.foreach { t =>
            cur = cur match {
              case Some(o) if t - o.last > GapUs =>
                closed += ClosedSession(user, toTs(o.start), o.n)
                Some(OpenSession(t, t, 1))
              case Some(o) => Some(o.copy(last = t, n = o.n + 1))
              case None => Some(OpenSession(t, t, 1))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  /** Streaming twin of the batch ev_markov transition extraction: one
    * [[LastEvent]] state row per user bridges micro-batches, so a
    * transition spanning a batch boundary (user's last event of batch N →
    * first of batch N+1) is emitted exactly once — the lead() window
    * restated incrementally. Intra-batch arrival disorder is absorbed by
    * the same (ts, event_id) sort the batch window orders by; cross-batch
    * disorder is the watermark regime's out-of-scope (in-order chunk
    * arrival, like the other stateful twins). Downstream, the transition
    * stream aggregates to the running Markov matrix with a plain
    * `groupBy(cur_type, next_type).count()` in update mode.
    */
  def transitionsViaState(s: SparkSession, events: DataFrame): Dataset[Transition] = {
    import s.implicits._
    events.select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[LastEvent]) =>
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          val seq = state.getOption.map(le => (le.us, le.event_id, le.event_type)).toList ++
            sorted.iterator.map(r => (r._2, r._3, r._4)).toList
          seq.lastOption.foreach { l => state.update(LastEvent(l._1, l._2, l._3)) }
          seq.sliding(2).collect { case List(a, b) => Transition(a._3, b._3) }
      }
  }

  /** Streaming twin of the batch ev_pattern CEP query (MATCH_RECOGNIZE
    * class): count, per user, non-overlapping "two-or-more consecutive
    * views immediately followed by a purchase" occurrences — but
    * incrementally, as a per-user state MACHINE instead of a regex over
    * the materialized sequence. The machine is exactly the greedy
    * leftmost-match scan the batch regex performs: a `view` extends the
    * current run (saturating at 2), a `purchase` closing a run ≥ 2 emits
    * one match and CONSUMES the run (non-overlap), any other type — or a
    * short-run purchase — resets it. Equivalence with the batch regex is
    * pinned by StreamingSpec over a chunked replay. State is O(1) per
    * user (run ∈ {0,1,2} + the SeqCap counter) where the batch side
    * materializes the whole ≤ SeqCap sequence string — the streaming form
    * is STRICTLY cheaper, the point of running CEP incrementally at
    * scale. Matches past the user's SeqCap-th event are suppressed for
    * batch parity. Ordering regime as [[transitionsViaState]]: intra-batch
    * disorder absorbed by the (ts, event_id) sort, in-order chunk arrival
    * across batches.
    */
  def bingeMatchesViaState(s: SparkSession, events: DataFrame): Dataset[BingeMatch] = {
    import s.implicits._
    events.select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[BingeState]) =>
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          var st = state.getOption.getOrElse(BingeState(0, 0L))
          val out = scala.collection.mutable.ArrayBuffer[BingeMatch]()
          sorted.foreach { r =>
            val (next, matched) = bingeStep(st, r._4)
            if (matched) out += BingeMatch(user, r._3)
            st = next
          }
          state.update(st)
          out.iterator
      }
  }

  /** One CEP machine step: next state plus whether this event completed a
    * match. Pure and shared with the StreamingSpec property test, which
    * pins fold-over-bingeStep ≡ the batch regex on random sequences —
    * the machine IS the regex's greedy leftmost non-overlapping scan.
    */
  private[graft] def bingeStep(st: BingeState, eventType: String): (BingeState, Boolean) =
    if (st.seen >= Streamish.SeqCap) (st.copy(seen = st.seen + 1), false)
    else eventType match {
      case "view" => (BingeState(math.min(st.run + 1, 2), st.seen + 1), false)
      case "purchase" => (BingeState(0, st.seen + 1), st.run >= 2)
      case _ => (BingeState(0, st.seen + 1), false)
    }

  /** Streaming twin of ev_abandon — ABSENCE detection, where the timeout
    * itself is the match: a `view` resolves either when a following
    * `purchase` arrives (converted iff inside the deadline, abandoned
    * otherwise — the FIRST following purchase decides, exactly the batch
    * running-min semantics, so a later purchase can never rescue) or when
    * the event-time TIMER fires because the watermark passed its deadline
    * with no purchase seen (abandoned). This is the third use of group
    * state timeouts in the battery and the only one where the timeout is
    * the ANSWER rather than an eviction policy ([[noveltyViaStateTtl]] /
    * [[noveltyViaStateEventTtl]] evict): the cart-abandonment alert class
    * a batch engine can only answer in hindsight.
    *
    * State is the user's PENDING views only — every purchase clears it,
    * every timer expiry shrinks it, so its size is bounded by one user's
    * views per deadline window, never history. All deadline arithmetic is
    * integer µs (timers are set at ms granularity, then re-checked against
    * the exact µs deadline on fire, so ms rounding can't flip a boundary
    * verdict). Ordering regime as [[transitionsViaState]]: intra-batch
    * disorder absorbed by the (ts_us, event_id) sort, in-order arrival
    * across micro-batches. StreamingSpec pins the chunk-replayed verdicts
    * rolled up per user ≡ batch ev_abandon minus exactly the views the
    * final watermark leaves unresolved (deadline not yet passed, no
    * purchase ever — the open-session precedent).
    */
  def abandonViaTimers(s: SparkSession, events: DataFrame,
      watermarkDelay: String = "0 seconds"): Dataset[AbandonVerdict] = {
    import s.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[(Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Long, String, java.sql.Timestamp)],
         state: GroupState[AbandonPend]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[AbandonVerdict]
          var pending = state.getOption.map(_.pending.toVector).getOrElse(Vector.empty)
          if (state.hasTimedOut) {
            // exact µs re-check: only views whose deadline the watermark
            // has STRICTLY passed are dead — a purchase at exactly the
            // deadline could in principle still arrive for the rest
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val (dead, live) = pending.partition(p => p.ts_us + Streamish.AbandonUs < wmUs)
            dead.foreach(p => out += AbandonVerdict(user, p.event_id, converted = false, 0L))
            pending = live
          } else {
            val evs = rows.map { r =>
              val us = r._4.getTime * 1000L + (r._4.getNanos % 1000000L) / 1000L
              (us, r._2, r._3)
            }.toArray.sortBy(e => (e._1, e._2))
            evs.foreach {
              case (us, id, "view") => pending :+= PendView(id, us)
              case (us, _, _) => // purchase: resolves EVERY pending view
                pending.foreach { p =>
                  if (us <= p.ts_us + Streamish.AbandonUs)
                    out += AbandonVerdict(user, p.event_id, converted = true, us - p.ts_us)
                  else
                    out += AbandonVerdict(user, p.event_id, converted = false, 0L)
                }
                pending = Vector.empty
            }
          }
          if (pending.isEmpty) state.remove()
          else {
            state.update(AbandonPend(pending))
            // earliest pending deadline, in ms, strictly beyond the watermark
            val nextMs = (pending.map(_.ts_us).min + Streamish.AbandonUs) / 1000L + 1
            state.setTimeoutTimestamp(
              math.max(nextMs, state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }
  }

  /** Streaming twin of ev_hll_merge's INGEST half: the stream maintains
    * the per-(type, week, day) HLL user sketches — SHARED expression with
    * the batch path ([[graft.ops.Streamish.dailySketchesOf]]), so batch
    * and stream cannot drift — as a streaming aggregation whose state is
    * one fixed-size register array per open group. This is the
    * metrics-store pattern end-to-end: ingestion never keeps raw user
    * ids (the state store holds sketch buffers), and any coarser window
    * (the weekly roll-up) is answered at READ time by unioning the
    * sink's daily sketches — `weeklyEstimateOf` over the sink equals the
    * batch estimate exactly, because HLL register maxima are
    * arrival-order-independent and the union is exact. StreamingSpec
    * pins that equality. Spark's one-stateful-aggregation rule is why
    * the weekly union lives at read time — which is also precisely how
    * a production sketch store works.
    */
  def dailySketchesStreaming(s: SparkSession, events: DataFrame): DataFrame =
    Streamish.dailySketchesOf(events)

  /** Streaming twin of ev_lift's (user, type) DEDUP stage: one bounded
    * [[SeenTypes]] state row per user (≤ |event types| entries — a
    * vocabulary bound, not a history bound) emits each (user, type) pair
    * exactly ONCE, on first sight, across micro-batch boundaries. The
    * batch `.distinct()` restated incrementally: downstream, the pair
    * stream feeds the same marginal/pair aggregates, so co-occurrence lift
    * stays maintainable over an unbounded event stream without ever
    * re-scanning history.
    */
  def firstSeenPairsViaState(s: SparkSession, events: DataFrame): Dataset[TypePair] = {
    import s.implicits._
    events.select(col("user_id"), col("event_type")).as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String)], state: GroupState[SeenTypes]) =>
          val seen = scala.collection.mutable.LinkedHashSet(
            state.getOption.map(_.types).getOrElse(Seq.empty): _*)
          val out = scala.collection.mutable.ArrayBuffer[TypePair]()
          rows.foreach { r =>
            if (seen.add(r._2)) out += TypePair(user, r._2)
          }
          state.update(SeenTypes(seen.toSeq))
          out.iterator
      }
  }

  /** Streaming twin of mm_phash_dedup's signatured half: INCREMENTAL
    * identical-signature asset dedup. Each arriving asset's 64-bit aHash
    * signature is computed per row
    * ([[graft.ops.Multimodal.withPhashSig]] — array expressions, no
    * explode/window, which is what makes the plan streamable), assets
    * group by signature, and ONE state row per distinct signature carries
    * (canonical doc_id = min seen, n_merged). The keep-list updates as
    * assets land — state is bounded by the DISTINCT-signature space, not
    * by history (the sketch-store property again; the factor-100 probe
    * measured 487k assets → 126k signatures). Each touched group emits its
    * current [[SigKeep]] row per micro-batch with a strictly-monotone
    * n_merged, so downstream reads "max n_merged per sig" as the live
    * keep-list. Sub-PhashMinBytes assets carry no signal and never enter
    * state (the batch operator keeps them as singletons; the spec composes
    * them back).
    */
  def phashKeepViaState(s: SparkSession, docs: DataFrame): Dataset[SigKeep] = {
    import s.implicits._
    graft.ops.Multimodal.withPhashSig(
        docs.select(col("doc_id"), col("text").cast("binary").as("payload")))
      .select(col("doc_id"), col("sig"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sig: Long, rows: Iterator[(Long, Long)], state: GroupState[SigGroup]) =>
          val prev = state.getOption.getOrElse(SigGroup(Long.MaxValue, 0L))
          var minDoc = prev.doc_id
          var n = prev.n
          rows.foreach { r => minDoc = math.min(minDoc, r._1); n += 1 }
          state.update(SigGroup(minDoc, n))
          Iterator.single(SigKeep(sig, minDoc, n))
      }
  }

  /** Streaming twin of dd_neardup_ingest: classify ARRIVING docs against a
    * static corpus snapshot as dup_corpus / dup_batch / neardup_corpus /
    * new — ingest-time dedup, the daily-crawl workflow run as a stream.
    *
    * Everything heavy is STATELESS stream-static work: per-row fingerprint,
    * shingles, MinHash signature and band keys (all column expressions, so
    * legal in a streaming plan), then (a) a stream-static LEFT join against
    * the snapshot's distinct-fingerprint set for the exact-corpus tier and
    * (b) for corpus-fp MISSES only, a stream-static equi-join of the doc's
    * 4 band rows against the narrow snapshot band table, snapshot shingles
    * joined back after the band match, then the exact Jaccard ≥
    * [[graft.ops.Dedup.JaccardT]] verify — candidate-only, never
    * all-pairs (one divergence from batch: verify runs per band HIT, not
    * per deduplicated pair — stateless streaming has no dropDuplicates, so
    * a 4-band agreement re-verifies ≤ 4×, harmlessly). The
    * ONLY state is one [[FpSeen]] counter per DISTINCT arriving
    * fingerprint (the dup_batch tier's row_number restated incrementally —
    * bounded by fingerprint space, not history). Docs must arrive in
    * doc_id order per fingerprint for dup_batch parity with the batch
    * row_number (the shard-assignment twin's ordering contract).
    */
  def ingestClassifyViaBands(s: SparkSession, docsStream: DataFrame,
      snapshotDocs: DataFrame): Dataset[IngestStatus] = {
    import s.implicits._
    val D = graft.ops.Dedup
    // snapshot artifacts — static, un-cached here (Spark re-evaluates
    // static sides per micro-batch; a production deployment reads these
    // from the PERSISTED ingest index table, which is the real fix, and
    // an in-session .cache() would outlive the query against the repo's
    // cache-hygiene contract). The band table stays NARROW (no shingle
    // payload); snapshot shingles join back only after a band match.
    val snapFp = D.fingerprinted(snapshotDocs)
      .select(col("fp").as("snap_fp")).distinct()
    val snapSh = D.shingledOf(snapshotDocs)
    val snapBands = D.bandLong(snapSh)
      .select(col("doc_id").as("snap_id"), col("b_idx"), col("band"))

    val withFp = docsStream
      .select(col("doc_id"), col("text"), D.toks.as("toks"))
      .select(col("doc_id"), col("text"), D.fpExpr)
    val base = withFp.join(snapFp, col("fp") === col("snap_fp"), "left")
      .select(col("doc_id"), col("fp"),
        col("snap_fp").isNotNull.as("corpus"), lit(false).as("near"))
    // the near tier: only corpus-fp MISSES pay shingling + the band join
    // (the batch operator's exact-tier prune, restated statelessly; the
    // in-batch dup_batch prune needs the rank state, so unlike batch those
    // docs still reach the verify — their verdict is masked by precedence).
    // Verify runs per (doc, snap) BAND HIT — without stateful dedup a
    // 4-band agreement verifies ≤ Bands× redundantly; the Jaccard filter
    // is deterministic, so redundant rows only repeat `near=true`.
    val missFp = withFp.join(snapFp, col("fp") === col("snap_fp"), "left_anti")
    val hits = D.bandLong(D.shingledOf(missFp, carry = Seq("fp")),
        carry = Seq("fp", "sh"))
      .join(snapBands, Seq("b_idx", "band"))
      .join(snapSh.select(col("doc_id").as("snap_id"), col("sh").as("sh_s")),
        "snap_id")
      .withColumn("inter", size(array_intersect(col("sh"), col("sh_s"))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("sh")) + size(col("sh_s")) - col("inter")))
      .filter(col("jac") >= D.JaccardT)
      .select(col("doc_id"), col("fp"),
        lit(false).as("corpus"), lit(true).as("near"))

    base.unionByName(hits).as[IngestRow]
      .groupByKey(_.fp.getOrElse("null-fp"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[IngestRow], state: GroupState[FpSeen]) =>
          // OR-reduce the (base ∪ hit) rows per doc, then classify in
          // doc_id order against the running per-fingerprint counter
          val byDoc = scala.collection.mutable.Map.empty[Long, (Boolean, Boolean)]
          rows.foreach { r =>
            val (c, n) = byDoc.getOrElse(r.doc_id, (false, false))
            byDoc(r.doc_id) = (c || r.corpus, n || r.near)
          }
          var n = state.getOption.map(_.n).getOrElse(0L)
          val out = byDoc.toSeq.sortBy(_._1).map { case (doc, (corpus, near)) =>
            n += 1
            val status =
              if (corpus) "dup_corpus"
              else if (n > 1) "dup_batch"
              else if (near) "neardup_corpus"
              else "new"
            IngestStatus(doc, status)
          }
          state.update(FpSeen(n))
          out.iterator
      }
  }

  /** Streaming twin of mm_shard_manifest's assignment half: one [[LaneCum]]
    * running-byte-total state row per (media_type, sub-lane) assigns every
    * arriving asset to its byte-budgeted shard incrementally — the ingest
    * path that keeps appending crawled blobs to open training shards
    * without ever re-scanning the corpus. The batch window's running sum
    * restated as state; lane derivation is SHARED code
    * ([[graft.ops.Multimodal.assetLanes]]) so batch and stream cannot
    * drift. In-order arrival per lane (the chunked-ingest regime of the
    * other stateful twins) makes assignments equal the batch operator's —
    * and the contract is ENFORCED, not assumed: the state carries the
    * lane's last-assigned doc_id, and a later micro-batch delivering a
    * smaller doc_id is flagged `in_order=false` on its emitted row (it is
    * still assigned — shards already sealed can't be retro-packed — but
    * the divergence from the batch manifest is now observable downstream
    * instead of silent).
    */
  def shardAssignViaState(s: SparkSession, docs: DataFrame): Dataset[ShardAssign] = {
    import s.implicits._
    graft.ops.Multimodal.assetLanes(docs)
      .select(col("media_type"), col("sub"), col("doc_id"), col("n_bytes"))
      .as[(String, Long, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (lane: (String, Long), rows: Iterator[(String, Long, Long, Long)],
         state: GroupState[LaneCum]) =>
          val prev = state.getOption.getOrElse(LaneCum(0L, Long.MinValue))
          var cum = prev.cum
          var lastDoc = prev.lastDoc
          val out = rows.toArray.sortBy(_._3).map { r =>
            val a = ShardAssign(r._3, lane._1, lane._2, r._4,
              cum / graft.ops.Multimodal.ShardBudget, r._3 > lastDoc)
            cum += r._4
            lastDoc = math.max(lastDoc, r._3)
            a
          }
          state.update(LaneCum(cum, lastDoc))
          out.iterator
      }
  }

  /** Streaming twin of q_upsert's action audit: the MERGE "changes" feed
    * arrives in micro-batches; each change row is tagged `update` (its key
    * exists in the static base — a stream-static LEFT join, the dimension
    * side broadcastable) or `insert` (new key), and one Boolean state row
    * per key makes the audit EXACTLY-ONCE — a change re-delivered by a
    * later micro-batch (at-least-once sources do this) emits nothing the
    * second time instead of double-counting the action. `keep` rows are
    * the batch operator's complement (base minus updated keys) and are
    * never streamed — the spec derives them from base + the emitted
    * updates and pins the full three-action audit against batch q_upsert.
    *
    * Scale shape: the only per-key state is one Boolean; the base side
    * joins on its key (broadcast or shuffled once per micro-batch), and
    * nothing scales with history beyond the distinct changed-key set.
    */
  def upsertAuditViaState(s: SparkSession, changes: DataFrame, base: DataFrame): Dataset[UpsertAction] = {
    import s.implicits._
    changes
      .join(base.select(col("o_orderkey"), col("o_totalprice").cast("double").as("prev")),
        col("c_key") === col("o_orderkey"), "left_outer")
      .select(col("c_key"), col("c_price"), col("prev"))
      .as[(Long, Double, Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Double, Option[Double])],
         state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty // re-delivery: already audited
          else {
            state.update(true)
            // deterministic pick if one batch carries duplicate rows
            val r = rows.toArray.minBy(x => (x._2, x._3.getOrElse(Double.NaN)))
            Iterator.single(UpsertAction(key, r._2, r._3,
              if (r._3.isDefined) "update" else "insert"))
          }
      }
  }

  /** Streaming twin of txt_ngram_novelty: novelty against everything
    * ALREADY INGESTED, scored as the corpus arrives — one first-carrier
    * state row per distinct trigram; each arriving doc's distinct trigrams
    * come back flagged novel iff this doc introduced them. Under
    * doc_id-ordered ingest (the chunked regime of the other twins) the
    * accumulated verdicts equal the batch operator's min-doc_id semantics
    * exactly — pinned by StreamingSpec.
    *
    * State is one Long per distinct trigram — the same unbounded-dedup
    * class as the fingerprint-dedup twin; [[noveltyViaStateTtl]] is the
    * production deployment, bounding it with a processing-time TTL and a
    * documented exactness horizon. Trigrams derive per-row (the batch
    * operator's `shingles` of the row's tokens, at the same
    * [[graft.ops.Dedup.TriK]] width — no cross-row window, which streaming
    * disallows); within-batch duplicates collapse inside the state
    * function.
    */
  def noveltyViaState(s: SparkSession, docs: DataFrame): Dataset[TriNovel] =
    noveltyViaStateTtl(s, docs, ttlMs = 0L)

  /** [[noveltyViaState]] with a BOUNDED state horizon: `ttlMs > 0` evicts
    * any trigram not touched for that long (processing-time timeout, reset
    * on every sighting), so state carries only the working set instead of
    * one row per distinct trigram forever — the production deployment of
    * the unbounded twin.
    *
    * EXACTNESS HORIZON: verdicts equal the unbounded operator's as long as
    * every re-occurrence of a trigram arrives within `ttlMs` of its last
    * sighting. A trigram silent longer than the TTL is forgotten, and its
    * next carrier is scored novel again — novelty can only be
    * OVER-reported beyond the horizon, never missed inside it.
    * `ttlMs = 0` disables eviction (exact, unbounded).
    */
  def noveltyViaStateTtl(
      s: SparkSession, docs: DataFrame, ttlMs: Long): Dataset[TriNovel] = {
    import s.implicits._
    val tri = Shingles(s, graft.ops.TextOps.tokens(col("text")), graft.ops.Dedup.TriK)
    val timeoutConf =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    docs
      .select(col("doc_id"), explode(tri).as("tri"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (tri: String, rows: Iterator[(Long, String)], state: GroupState[Long]) =>
          if (ttlMs > 0 && state.hasTimedOut) {
            state.remove() // silent past the horizon: forget the carrier
            Iterator.empty
          } else {
            val arrived = rows.map(_._1).toArray.distinct.sorted
            val out =
              if (state.exists) arrived.iterator.map(d => TriNovel(d, novel = false))
              else {
                state.update(arrived.head)
                arrived.iterator.map(d => TriNovel(d, d == arrived.head))
              }
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            out
          }
      }
  }

  /** [[noveltyViaStateTtl]] with the horizon in EVENT TIME: replaying the
    * same corpus fast or slow gives identical verdicts, because the epoch
    * logic is driven by event-time deltas carried IN the state — a trigram
    * whose next sighting is more than `ttlMs` later in event time starts a
    * fresh epoch (scored novel again) even if both sightings land in the
    * same micro-batch. The engine-level `EventTimeTimeout` is only the
    * STATE-SIZE bound: once the watermark passes a key's last sighting +
    * `ttlMs`, its row is removed (the key would start a fresh epoch anyway,
    * so removal never changes a verdict).
    *
    * `docs` must carry an `event_time` timestamp column;
    * `watermarkDelay` is the usual late-data allowance. EXACTNESS: verdicts
    * equal the unbounded operator's restricted to within-horizon
    * re-occurrences, for corpora arriving in event-time order across
    * micro-batches (within-batch disorder is sorted out in-state) — the
    * replay-invariant production semantic the processing-time variant
    * lacks.
    */
  def noveltyViaStateEventTtl(
      s: SparkSession, docs: DataFrame, ttlMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[TriNovel] = {
    import s.implicits._
    val tri = Shingles(s, graft.ops.TextOps.tokens(col("text")), graft.ops.Dedup.TriK)
    docs
      .withWatermark("event_time", watermarkDelay)
      // the watermarked column itself must reach the stateful operator —
      // converting it to a long here would project the watermark away
      .select(col("doc_id"), col("event_time"), explode(tri).as("tri"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (tri: String, rows: Iterator[(Long, java.sql.Timestamp, String)],
         state: GroupState[NovEpoch]) =>
          if (state.hasTimedOut) {
            state.remove() // watermark passed the horizon: drop the epoch row
            Iterator.empty
          } else {
            // event-time order within the batch; one verdict per distinct doc
            val arrived = rows.map(r => (r._2.getTime, r._1)).toArray.distinct.sorted
            var cur = state.getOption
            val seen = scala.collection.mutable.LinkedHashMap.empty[Long, Boolean]
            arrived.foreach { case (ms, doc) =>
              val fresh = cur.isEmpty || ms - cur.get.lastMs > ttlMs
              cur =
                if (fresh) Some(NovEpoch(doc, ms))
                else Some(NovEpoch(cur.get.firstDoc, math.max(cur.get.lastMs, ms)))
              if (!seen.contains(doc)) seen(doc) = cur.get.firstDoc == doc
            }
            state.update(cur.get)
            state.setTimeoutTimestamp(
              math.max(cur.get.lastMs + ttlMs, state.getCurrentWatermarkMs() + 1))
            seen.iterator.map { case (d, nov) => TriNovel(d, nov) }
          }
      }
  }

  /** Streaming twin of txt_domain_cap: the per-source quality budget kept
    * RUNNING as the corpus arrives. Quality is the same row-local scoring
    * expression set as the batch operator ([[graft.ops.TextOps.qualityOf]]
    * — no window, streaming-legal); the cap is one bounded state row per
    * source holding its current top-[[graft.ops.TextOps.DomainCap]] docs
    * by (quality DESC, doc_id ASC). Each micro-batch merges that source's
    * arrivals into the kept list — a doc admitted earlier is evicted the
    * moment a better one lands, which is why this is Update-mode (the
    * keep-list is revised, not appended): every emission re-states the
    * source's CURRENT list tagged with a monotone `seq`, and the rows at a
    * source's max seq are its accumulated keep-list (StreamingSpec pins
    * that set ≡ batch txt_domain_cap across 3 micro-batches).
    *
    * Scale shape: state is ≤ cap (quality, doc_id) pairs + one counter per
    * source — bytes per domain, hash-partitioned by source; arrivals
    * stream through one sort-merge of (cap + batch-arrivals) elements per
    * touched source. The salted two-phase trick the batch plan needs
    * (no single task may sort a hot domain) is unnecessary here: a
    * micro-batch's per-source fan-in is already bounded by the trigger.
    */
  def domainCapViaState(s: SparkSession, docs: DataFrame): Dataset[DomainKeep] = {
    import s.implicits._
    graft.ops.TextOps.qualityOf(docs)
      .select(col("source"), col("doc_id"), col("quality"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[(String, Long, Double)], state: GroupState[CapState]) =>
          val prev = state.getOption.getOrElse(CapState(0L, Nil))
          val merged = (prev.kept ++ rows.map(r => CapDoc(r._3, r._2)))
            .sortBy(d => (-d.quality, d.doc_id))
            .take(graft.ops.TextOps.DomainCap)
          val next = CapState(prev.seq + 1, merged)
          state.update(next)
          merged.iterator.zipWithIndex.map { case (d, i) =>
            DomainKeep(source, i + 1, d.doc_id, d.quality, next.seq)
          }
      }
  }

  /** Streaming twin of dd_substring's window-match stage: the per-digest
    * inverted index kept as state. Window digests derive per-row exactly as
    * in the batch operator (posexplode of the row's `shingles`, one md5
    * each — no cross-row window, which streaming disallows); each
    * digest's state holds the ≤ [[graft.ops.Dedup.subDfCap]] (doc, pos)
    * occurrences seen so far, and a micro-batch's arrivals emit exactly the
    * NEW cross-doc matches (new×old ∪ new×new, oriented doc_a < doc_b).
    * When a digest's occurrences cross the cap it is POISONED: the
    * occurrence list drops to a boolean and one tombstone row retracts
    * every match of that digest — the streaming form of the batch
    * occurrence-pruning, which must drop already-joined pairs
    * retroactively. The accumulated non-poisoned matches are EXACTLY the
    * batch operator's `m` frame, so
    * [[graft.ops.Dedup.substringIslandsOf]] over them reproduces
    * dd_substring bit-for-bit (pinned by StreamingSpec across 3
    * micro-batches).
    *
    * Scale shape: state is ≤ cap 16-byte occurrences per digest (poisoned
    * digests: one boolean), hash-partitioned by digest; per-batch work per
    * digest is ≤ cap² pair constructions — the same fan-out bound as the
    * batch self-join. The DIGEST COUNT is still unbounded over an infinite
    * stream; [[substringMatchesViaStateTtl]] bounds it with a
    * processing-time TTL and a documented exactness horizon.
    */
  def substringMatchesViaState(s: SparkSession, docs: DataFrame): Dataset[WinMatch] =
    substringMatchesViaStateTtl(s, docs, ttlMs = 0L)

  /** [[substringMatchesViaState]] with a BOUNDED state horizon: `ttlMs > 0`
    * evicts any digest (occurrence list or poison marker) not touched for
    * that long — processing-time timeout, reset on every sighting — so the
    * inverted index carries only the working set.
    *
    * EXACTNESS HORIZON: matches equal the unbounded operator's as long as
    * every pair of occurrences of a shared window digest arrives within
    * `ttlMs` of each other. Occurrences farther apart are MISSED (the
    * first was forgotten before the second landed), and an expired poison
    * marker lets a hot digest re-accumulate from zero — both are the
    * standard membership-horizon trade; inside the horizon the output is
    * bit-for-bit the batch `m` frame. `ttlMs = 0` disables eviction.
    */
  def substringMatchesViaStateTtl(
      s: SparkSession, docs: DataFrame, ttlMs: Long): Dataset[WinMatch] = {
    import s.implicits._
    val cap = graft.ops.Dedup.subDfCap
    val windows = Shingles(s, graft.ops.TextOps.tokens(col("text")), graft.ops.Dedup.subWindowK)
    val timeoutConf =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    docs
      .select(col("doc_id"), posexplode(windows).as(Seq("off", "sh")))
      .select(md5(col("sh")).as("wh"), col("doc_id"), (col("off") + 1).cast("long").as("pos"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (wh: String, rows: Iterator[(String, Long, Long)], state: GroupState[SubWinState]) =>
          if (ttlMs > 0 && state.hasTimedOut) {
            state.remove() // horizon passed: forget occurrences / poison
            Iterator.empty
          } else {
          val prev = state.getOption.getOrElse(SubWinState(Nil, poisoned = false))
          if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
          if (prev.poisoned) Iterator.empty // tombstone already emitted
          else {
            val arrived = rows.map(r => WinOcc(r._2, r._3)).toSeq
            val merged = prev.occ ++ arrived
            if (merged.size > cap) {
              state.update(SubWinState(Nil, poisoned = true))
              Iterator.single(WinMatch(wh, -1L, -1L, -1L, -1L, poison = true))
            } else {
              state.update(SubWinState(merged, poisoned = false))
              def orient(x: WinOcc, y: WinOcc): WinMatch =
                if (x.doc_id < y.doc_id) WinMatch(wh, x.doc_id, y.doc_id, x.pos, y.pos, poison = false)
                else WinMatch(wh, y.doc_id, x.doc_id, y.pos, x.pos, poison = false)
              val newOld = for (x <- arrived; y <- prev.occ if x.doc_id != y.doc_id)
                yield orient(x, y)
              val newNew = for {
                (x, i) <- arrived.zipWithIndex; y <- arrived.drop(i + 1)
                if x.doc_id != y.doc_id
              } yield orient(x, y)
              (newOld ++ newNew).iterator
            }
          }
          }
      }
  }

  /** [[substringMatchesViaStateTtl]] with the horizon in EVENT TIME —
    * replay-invariant like [[noveltyViaStateEventTtl]]: a digest silent for
    * more than `ttlMs` of EVENT time starts a fresh epoch (occurrence list
    * and any poison marker cleared), decided by the event-time deltas in
    * state, not by wall-clock batching. `EventTimeTimeout` removes a key's
    * row once the watermark passes its last sighting + `ttlMs` — pure
    * state-size bound, never a verdict change, since the next arrival would
    * reset the epoch regardless.
    *
    * `docs` must carry an `event_time` timestamp column. EXACTNESS: inside
    * the horizon the accumulated non-poisoned matches are bit-for-bit the
    * batch `m` frame; occurrences farther than `ttlMs` apart in event time
    * are missed (the standard membership-horizon trade), identically at any
    * replay speed.
    */
  def substringMatchesViaStateEventTtl(
      s: SparkSession, docs: DataFrame, ttlMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[WinMatch] = {
    import s.implicits._
    val cap = graft.ops.Dedup.subDfCap
    val windows = Shingles(s, graft.ops.TextOps.tokens(col("text")), graft.ops.Dedup.subWindowK)
    docs
      .withWatermark("event_time", watermarkDelay)
      // keep the watermarked column intact through to the stateful operator
      .select(col("doc_id"), col("event_time"), posexplode(windows).as(Seq("off", "sh")))
      .select(md5(col("sh")).as("wh"), col("doc_id"), (col("off") + 1).cast("long").as("pos"),
        col("event_time"))
      .as[(String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (wh: String, rows: Iterator[(String, Long, Long, java.sql.Timestamp)],
         state: GroupState[SubWinEvState]) =>
          if (state.hasTimedOut) {
            state.remove() // watermark passed the horizon: next arrival resets anyway
            Iterator.empty
          } else {
            def orient(x: WinOccEv, y: WinOccEv): WinMatch =
              if (x.doc_id < y.doc_id)
                WinMatch(wh, x.doc_id, y.doc_id, x.pos, y.pos, poison = false)
              else WinMatch(wh, y.doc_id, x.doc_id, y.pos, x.pos, poison = false)
            val arrived = rows.map(r => WinOccEv(r._2, r._3, r._4.getTime)).toArray
              .sortBy(o => (o.ms, o.doc_id, o.pos))
            var st = state.getOption.getOrElse(
              SubWinEvState(Nil, poisoned = false, Long.MinValue))
            val out = scala.collection.mutable.ArrayBuffer.empty[WinMatch]
            arrived.foreach { a =>
              if (st.lastMs != Long.MinValue && a.ms - st.lastMs > ttlMs)
                st = SubWinEvState(Nil, poisoned = false, a.ms) // fresh epoch
              else st = st.copy(lastMs = math.max(st.lastMs, a.ms))
              if (!st.poisoned) {
                if (st.occ.size + 1 > cap) {
                  st = st.copy(occ = Nil, poisoned = true)
                  out += WinMatch(wh, -1L, -1L, -1L, -1L, poison = true)
                } else {
                  st.occ.foreach(y => if (y.doc_id != a.doc_id) out += orient(a, y))
                  st = st.copy(occ = st.occ :+ a)
                }
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(st.lastMs + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  /** Custom streaming state via the typed API: running per-user event count
    * and value total, one `UserTotals` row of state per user
    * (`mapGroupsWithState`, update mode). This is the extension slot for
    * stateful logic neither windows nor watermarks express.
    */
  def runningUserTotals(s: SparkSession, events: DataFrame): Dataset[UserTotals] = {
    import s.implicits._
    events.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(user, 0L, 0.0))
          var n = prev.n_events
          var sv = prev.sum_value
          rows.foreach { r => n += 1; sv += r._2 }
          val next = UserTotals(user, n, sv)
          state.update(next)
          next
      }
  }
}
