package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface — a beyond-reference extension (the
  * reference is batch-only; SURVEY.md §2.8 notes no streaming exists).
  * The same aggregation vocabulary (sum/mean/count/min/max) is exposed over
  * event-time windows with watermarked late-data handling, plus a
  * mapGroupsWithState sessionizer for custom state.
  *
  * Scale notes: watermark bounds state; windowed aggs shuffle once on
  * (key, window); state store is RocksDB-able via conf; no driver-side
  * loops anywhere.
  */
object StreamOps {

  /** Tumbling event-time aggregation with watermark.
    * @param window   e.g. "10 minutes"
    * @param lateness watermark delay, e.g. "5 minutes" */
  def tumblingAgg(events: DataFrame, tsCol: String, keyCol: String, valCol: String,
      window: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col(keyCol))
      .agg(
        sum(col(valCol)).as("sum"),
        avg(col(valCol)).as("mean"),
        count(lit(1)).as("count"),
        min(col(valCol)).as("min"),
        max(col(valCol)).as("max"))

  /** Sliding event-time aggregation. */
  def slidingAgg(events: DataFrame, tsCol: String, keyCol: String, valCol: String,
      window: String, slide: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window, slide), col(keyCol))
      .agg(sum(col(valCol)).as("sum"), count(lit(1)).as("count"))

  /** Session windows with a gap duration (built-in session_window). */
  def sessionAgg(events: DataFrame, tsCol: String, keyCol: String, valCol: String,
      gap: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(sum(col(valCol)).as("sum"), count(lit(1)).as("count"))

  // ---- custom state: running per-key stats via mapGroupsWithState ----

  case class Event(user_id: Long, value: Double)
  case class RunningStats(n: Long, sum: Double, min: Double, max: Double)
  case class UserStats(user_id: Long, n: Long, sum: Double, mean: Double,
      min: Double, max: Double)

  /** Per-key running stats that survive across micro-batches — the
    * mapGroupsWithState pattern for state Spark's built-ins can't express
    * (e.g. cumulative stats without windows). */
  def runningStats(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[RunningStats, UserStats](GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[Event], state: GroupState[RunningStats]) =>
          val prev = state.getOption.getOrElse(RunningStats(0L, 0.0, Double.MaxValue, Double.MinValue))
          val next = rows.foldLeft(prev) { (st, e) =>
            RunningStats(st.n + 1, st.sum + e.value,
              math.min(st.min, e.value), math.max(st.max, e.value))
          }
          state.update(next)
          UserStats(key, next.n, next.sum, next.sum / next.n, next.min, next.max)
      }
  }

  case class ShardCandidates(shard: Int, items: Seq[String])

  /** Streaming heavy hitters with O(shards × k) TOTAL state — the
    * frequent-items profile maintained continuously over an unbounded
    * stream (hot domains/tokens/keys during ingest), where a groupBy
    * count would grow state with the vocabulary.
    *
    * Shape: items hash onto `shards` parallel Misra-Gries summaries
    * (graft.functions.MisraGries semantics: ≤ k−1 counters each, the
    * classic decrement rule), each a [[flatMapGroupsWithState]] group.
    * An item lives in exactly ONE shard, so its shard-local frequency is
    * its global frequency and the shard's n is ≤ the global n — the
    * one-sided guarantee survives sharding: every item with global
    * frequency > n/k is in its shard's candidate set. Each micro-batch
    * emits every updated shard's current candidates; consumers union the
    * shards and (as in batch) re-count candidates exactly if they need
    * figures, not just the set. State never grows with the stream. */
  def streamingHeavyHitters(items: Dataset[String], k: Int,
      shards: Int = 8): Dataset[ShardCandidates] = {
    require(k >= 2 && shards >= 1, s"streamingHeavyHitters: k=$k shards=$shards")
    import items.sparkSession.implicits._
    items
      .filter((s: String) => s != null) // null carries no frequency; without
      // this the shard function would NPE on s.hashCode and kill the query
      .groupByKey(s => math.floorMod(s.hashCode, shards))
      .flatMapGroupsWithState[Map[String, Long], ShardCandidates](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[String], state: GroupState[Map[String, Long]]) =>
          var buf = state.getOption.getOrElse(Map.empty[String, Long])
          rows.foreach { item =>
            buf.get(item) match {
              case Some(c) => buf = buf.updated(item, c + 1)
              case None if buf.size < k - 1 => buf = buf.updated(item, 1L)
              case None => // decrement-all; drop dead counters
                buf = buf.flatMap { case (ky, c) =>
                  if (c - 1 <= 0) None else Some(ky -> (c - 1))
                }
            }
          }
          state.update(buf)
          Iterator.single(ShardCandidates(shard, buf.keys.toSeq.sorted))
      }
  }

  /** Streaming Count-Min sketch — the frequency sketch maintained
    * DURING ingest. Counters are ADDITIVE, so no custom state operator
    * is needed: a plain streaming aggregate keyed on (r, bucket) IS the
    * sketch, with state bounded at d·w rows forever (the matrix, never
    * the vocabulary) and full map-side partial aggregation per
    * micro-batch. Merge-order invariance makes the streamed state
    * batch-identical by construction — the graded property — and point
    * estimates / inner products read the sink exactly like the batch
    * face ([[graft.operators.Sketch.cmsEstimate]]). */
  def streamingCms(items: DataFrame, item: Column, d: Int, w: Int,
      tag: String = "cms"): DataFrame =
    items.filter(item.isNotNull)
      .select(explode(graft.operators.Sketch.cmsBuckets(item, d, w, tag)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  case class PriorityEntry(id: Long, w: Double, q: Double)
  case class ShardSample(shard: Int, id: Long, w: Double, q: Double)

  /** Streaming DLT priority sample with O(shards × (k+1)) TOTAL state —
    * the standing weighted sample maintained continuously during ingest
    * (the batch face is [[graft.operators.Sampling.prioritySample]]).
    *
    * Rows hash onto `shards` parallel groups; each shard's state is its
    * current top-(k+1) entries by (priority desc, id). A running top-m
    * of a growing set is MERGE-ORDER-INVARIANT (the same property that
    * makes the HLL register max and the KMV bottom-k honest), so the
    * final state is independent of batch boundaries and arrival order —
    * which is what lets an SQL oracle replay the streamed sample as a
    * pure batch computation. Every global top-(k+1) row is inside its
    * own shard's top-(k+1), so the consumer-side finish (union shards →
    * rank → τ at k+1 → est_w = max(w, τ)) reconstructs the batch DLT
    * sample EXACTLY, estimators included. Priorities use the same
    * pinned-hash arithmetic as batch (one int→double rounding, one
    * exact 2^-63 scale, one IEEE division — bit-reproducible).
    *
    * Each micro-batch every updated shard re-emits its full current
    * list (Update mode); consumers take the latest emission per shard.
    * State never grows with the stream: ≤ k+1 entries per shard. */
  def streamingPrioritySample(docs: DataFrame, idCol: String, wCol: String,
      k: Int, shards: Int = 8, tag: String = "psamp"): Dataset[ShardSample] = {
    require(k >= 1 && shards >= 1,
      s"streamingPrioritySample: k=$k shards=$shards")
    import docs.sparkSession.implicits._
    val u = (graft.operators.Sketch.pinnedHash(col(idCol).cast("string"), tag)
      + lit(1L)).cast("double") / lit(9223372036854775808.0)
    docs
      .filter(col(idCol).isNotNull && col(wCol).isNotNull) // null id/w rows
      // carry no weight and would NPE the primitive-field encoder
      .select(col(idCol).cast("long").as("id"),
        col(wCol).cast("double").as("w"),
        (col(wCol).cast("double") / u).as("q"))
      .as[PriorityEntry]
      .groupByKey(e => math.floorMod(e.id, shards).toInt)
      .flatMapGroupsWithState[Seq[PriorityEntry], ShardSample](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[PriorityEntry],
            state: GroupState[Seq[PriorityEntry]]) =>
          // dedup by id BEFORE truncating: an at-least-once re-delivery
          // (or the same id recurring in a later batch) must not occupy
          // two of the shard's k+1 slots — that would evict a genuine
          // entry and corrupt τ/est_w vs the batch DLT sample this
          // stream promises to reconstruct exactly. Priorities are a
          // pure function of (id, w), so duplicates are exact copies
          // and keeping the first is keeping the only value.
          val merged = (state.getOption.getOrElse(Seq.empty) ++ rows)
            .groupBy(_.id).map(_._2.head).toSeq
            .sortBy(e => (-e.q, e.id)).take(k + 1)
          state.update(merged)
          merged.iterator.map(e => ShardSample(shard, e.id, e.w, e.q))
      }
  }

  /** Streaming exact-dedup on a key column with watermark-bounded state:
    * `dropDuplicatesWithinWatermark` keeps only first-seen keys while the
    * state stays bounded by the watermark — the streaming face of
    * Dedup.exact. */
  def streamingDedup(events: DataFrame, tsCol: String, keyCols: Seq[String],
      lateness: String): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-STREAM inner interval join — both sides move (the enrichment
    * join has one static side). Equality on `keys` plus a time bound:
    * rTime in [lTime, lTime + rangeAfter] — the attribution shape
    * (purchase within N hours of click). BOTH watermarks and the range
    * bound are what let Spark expire buffered rows on each side; an
    * unbounded stream-stream join would hold all history in state.
    * Append output mode only (Spark's stream-stream constraint);
    * aggregate the matches downstream (or in a follow-up query over the
    * sink). Time columns must be named differently; non-key payload
    * columns must not collide (rename first, as with any Spark join). */
  def streamStreamIntervalJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], lTime: String, rTime: String,
      lateness: String, rangeAfter: String): DataFrame = {
    require(keys.nonEmpty,
      "streamStreamIntervalJoin: need at least one equi-join key " +
        "(a pure time-range stream join is unsupported)")
    require(lTime != rTime,
      "streamStreamIntervalJoin: time columns must be named differently")
    val lPayload = left.columns.filterNot(keys.contains)
    val rPayload = right.columns.filterNot(keys.contains)
    val collide = lPayload.toSet.intersect(rPayload.toSet)
    require(collide.isEmpty,
      s"streamStreamIntervalJoin: payload columns collide: $collide")
    val l = left.withWatermark(lTime, lateness).alias("l")
    val r = right.withWatermark(rTime, lateness).alias("r")
    val keyCond = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val rangeCond = col(s"r.$rTime") >= col(s"l.$lTime") &&
      col(s"r.$rTime") <= col(s"l.$lTime") + expr(s"INTERVAL $rangeAfter")
    l.join(r, keyCond && rangeCond, "inner")
      .select((keys.map(k => col(s"l.$k").as(k)) ++
        lPayload.map(c => col(s"l.$c")) ++
        rPayload.map(c => col(s"r.$c"))).toIndexedSeq: _*)
  }

  /** Route streaming state through the RocksDB state store provider —
    * the 100 TB state backend: state lives off-heap/on-disk per executor
    * with incremental checkpointing, instead of the default in-memory
    * HDFSBackedStateStore (whose state must fit the executor heap). Set
    * BEFORE the first `start()`; the provider is pinned per checkpoint.
    * Changelog checkpointing keeps commit cost proportional to the
    * per-batch delta, not the full store — the right default for the
    * large, slowly-growing stores here (LSH bucket registry). */
  def useRocksDBStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
  }

  /** Pins session conf `key` to `value`; the returned thunk puts the
    * caller's value back, or unsets the key when the caller had none. */
  private[graft] def pinConf(s: SparkSession, key: String,
      value: String): () => Unit = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    () => prev.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val FsCheckpointManager = "org.apache.spark.sql.execution.streaming." +
    "checkpointing.FileSystemBasedCheckpointFileManager"

  /** Pins Spark's `FileSystem`-based checkpoint manager for the streaming
    * queries started until the returned thunk runs, when their
    * checkpoint is on the local disk: `checkpointLocation`, else the
    * session's `spark.sql.streaming.checkpointLocation`, else the temp
    * dir Spark makes for a memory/noop sink, each resolved against the
    * default file system. Spark's default `FileContext` manager reads
    * the link status of both paths on every rename (offset and commit
    * logs, state-store deltas), which Hadoop's local file system gets by
    * forking `readlink` when libhadoop is absent; on the local disk the
    * `FileSystem` manager's `exists` + `rename(2)` gives the same
    * guarantee as that check-then-act rename. Any other scheme keeps the
    * default, whose rename is the atomic one there. A file source's
    * metadata log is made on the query's own thread from the caller's
    * session conf, after `start()` has returned, so the pin must hold
    * until the queries end. */
  private[graft] def pinLocalCheckpoints(s: SparkSession,
      checkpointLocation: Option[String]): () => Unit = {
    val loc = checkpointLocation
      .orElse(s.conf.getOption("spark.sql.streaming.checkpointLocation"))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val scheme = Option(new org.apache.hadoop.fs.Path(loc).toUri.getScheme)
      .getOrElse(org.apache.hadoop.fs.FileSystem.getDefaultUri(
        s.sessionState.newHadoopConf()).getScheme)
    if (scheme == "file") pinConf(s, CheckpointManagerKey, FsCheckpointManager)
    else () => ()
  }

  /** Runs `body`, which starts streaming queries and waits for them to
    * end, under [[pinLocalCheckpoints]]. */
  private[graft] def withLocalCheckpoints[T](s: SparkSession,
      checkpointLocation: Option[String] = None)(body: => T): T = {
    val restore = pinLocalCheckpoints(s, checkpointLocation)
    try body finally restore()
  }

  case class LshClaim(doc_id: Long, band: Int, bucket: String, owner: Long)

  /** Streaming MinHash-LSH near-dup INGEST FILTER — the streaming face of
    * `Dedup.minhashLshCandidates`: every incoming doc's k-permutation
    * signature is banded into `bands` bucket keys, and a per-(band,
    * bucket) state store remembers the bucket's OWNER (the min doc id
    * seen). A doc emitting at least one claim with `owner != doc_id`
    * entered an already-claimed bucket: it is a near-dup CANDIDATE to
    * route to verification/quarantine; a doc owning all its buckets is a
    * first sighting. This is the ingest-time shape of LSH dedup — the
    * corpus-wide band index lives in the state store (O(distinct buckets)
    * entries holding one long each, RocksDB-able) instead of being
    * re-joined per batch.
    *
    * Signature computation is per-ROW (array_min over a transform of the
    * shingle set) — stateless and watermark-free, unlike the batch
    * explode+groupBy formulation, so the only stateful operator is the
    * bucket registry itself. The polynomial-fingerprint family matches
    * the batch pipeline bit for bit (shared fp/pw parts per shingle, two
    * multiplies per seed), so batch signatures, the SQL oracle and the
    * stream agree on every bucket key.
    *
    * Owner determinism: FIRST SIGHTING owns. A bucket with standing
    * state keeps its stored owner no matter what ids later batches carry
    * (a later-arriving SMALLER doc_id does not steal the bucket — it is
    * claimed against the standing owner like any other arrival); only an
    * empty bucket takes the batch min, which makes the within-batch
    * result arrival-order independent. Docs with fewer than `shingleN`
    * tokens have no shingles and are passed through untouched by the
    * caller (they cannot near-dup match — same rule as batch). */
  def streamingLshClaims(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      stateTtl: Option[String] = None): Dataset[LshClaim] = {
    import docs.sparkSession.implicits._
    val banded = bandedSignatures(docs, textCol, idCol, k, bands, shingleN)
      .select(col("doc_id"), col("band"), col("bucket"))
      .as[(Long, Int, String)]
    banded
      .groupByKey { case (_, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState[Long, LshClaim](
        OutputMode.Append(), timeoutFor(stateTtl)) {
        case ((band, bucket), rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val ids = rows.map(_._1).toSeq
            // first sighting owns: standing state is authoritative; only
            // an empty bucket takes the batch min (order-independent)
            val owner = state.getOption.getOrElse(ids.min)
            state.update(owner)
            stateTtl.foreach(state.setTimeoutDuration)
            ids.sorted.iterator.map(id => LshClaim(id, band, bucket, owner))
          }
      }
  }

  case class BucketOwner(owner: Long, sig: Array[Long])
  case class LshVerified(id_a: Long, id_b: Long, band: Int, est_jaccard: Double)

  /** Streaming LSH with the VERIFY stage closed in-stream — the full
    * near-dup loop of batch [[graft.operators.Dedup.minhashNearDups]] at
    * ingest time: the bucket registry keeps each (band, bucket)'s owner
    * AND the owner's full k-value signature, so a doc landing in an
    * already-claimed bucket is signature-compared against the owner right
    * there (est-Jaccard = matching minhash fraction, the same estimator
    * batch verification applies to its LSH candidates) and only CONFIRMED
    * near-dups (est ≥ `threshold`) are emitted — claims that don't
    * verify (distinct texts that happened to collide on one band) are
    * dropped in-stream instead of being routed to a batch compare.
    *
    * Output: one (id_a = owner, id_b = doc, band, est_jaccard) row per
    * confirming band; consumers dedupe on (id_a, id_b) (est is a
    * whole-signature compare, identical from every band). Relative to the
    * batch miner this emits the owner-anchored SUBSET of verified pairs —
    * each doc verifies against its buckets' first sighting, not against
    * every co-bucketed doc (state stays O(distinct buckets), not
    * O(bucket occupancy)); transitive closure downstream reconstructs
    * the clusters exactly as it does for the batch pair set.
    *
    * State: owner id + k longs per distinct bucket — RocksDB-able (see
    * [[useRocksDBStateStore]]); `stateTtl` (e.g. "30 days") arms a
    * processing-time timeout that EVICTS buckets idle longer than the
    * TTL (the dedup horizon: a re-arrival after eviction becomes a fresh
    * first sighting — the standard bounded-state trade for an unbounded
    * corpus). Default None = whole-corpus dedup, state grows with
    * distinct content.
    *
    * Trigger note: under ProcessingTimeTimeout Spark schedules a batch on
    * EVERY trigger even with no new data (timeout processing must run:
    * `shouldRunAnotherBatch` is unconditionally true), so a TTL'd stream
    * on the default as-fast-as-possible trigger hot-spins empty
    * micro-batches, each paying a full state-store commit. Always give
    * TTL streams an explicit `Trigger.ProcessingTime(...)`; and never
    * wait on `processAllAvailable()` for one — it can never return
    * (there is always another batch due). */
  def streamingLshVerified(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double, k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      stateTtl: Option[String] = None): Dataset[LshVerified] = {
    import docs.sparkSession.implicits._
    val banded = bandedSignatures(docs, textCol, idCol, k, bands, shingleN)
      .as[(Long, Int, String, Array[Long])]
    banded
      .groupByKey { case (_, band, bucket, _) => (band, bucket) }
      .flatMapGroupsWithState[BucketOwner, LshVerified](
        OutputMode.Append(), timeoutFor(stateTtl)) {
        case ((band, _), rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // FIRST SIGHTING OWNS: standing state keeps the bucket (a
            // later batch carrying a smaller doc_id must NOT steal it —
            // the displaced owner would never be signature-compared and
            // the (new, old) pair silently dropped); an empty bucket
            // takes the batch min, so within one micro-batch the owner
            // is arrival-order independent
            val batch = rows.map { case (id, _, _, sig) => (id, sig) }.toSeq
            val (owner, ownerSig) = state.getOption
              .map(s => (s.owner, s.sig)).getOrElse(batch.minBy(_._1))
            state.update(BucketOwner(owner, ownerSig))
            stateTtl.foreach(state.setTimeoutDuration)
            batch.sortBy(_._1).iterator.filter(_._1 != owner).flatMap {
              case (id, sig) =>
                var m = 0
                var j = 0
                while (j < k) { if (sig(j) == ownerSig(j)) m += 1; j += 1 }
                val est = m.toDouble / k
                if (est >= threshold) Some(LshVerified(owner, id, band, est))
                else None
            }
          }
      }
  }

  private def timeoutFor(ttl: Option[String]): GroupStateTimeout =
    if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout

  /** Per-row banded minhash signatures for the streaming LSH family:
    * (doc_id, band, bucket, sig) — one row per (doc, band), the full
    * k-value signature carried alongside so the verify stage can compare
    * without a second pass. Stateless and watermark-free: signature
    * computation is array_min over a transform of the doc's own shingle
    * set, so the only stateful operator downstream is the bucket
    * registry. The polynomial-fingerprint family matches the batch
    * pipeline bit for bit (shared fp/pw parts per shingle, two multiplies
    * per seed), so batch signatures, the SQL oracle and the stream agree
    * on every bucket key. Docs with fewer than `shingleN` tokens have no
    * shingles and drop out (they cannot near-dup match — same rule as
    * batch). */
  private def bandedSignatures(docs: DataFrame, textCol: String, idCol: String,
      k: Int, bands: Int, shingleN: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands
    val shingles = array_distinct(
      graft.operators.TextOps.shingles(graft.operators.TextOps.tokens(col(textCol)), shingleN))
    // all k minima in ONE native pass (graft_minhash_sig): the previous
    // form ran k interpreted array_min(transform(...)) HOF passes per row
    // — CodegenFallback subtrees, 16 walks of the shingle array with
    // per-element lambda evaluation. Values bit-identical (same
    // polynomial prefix family; differential-spec'd), so batch
    // signatures, the SQL oracle and the stream still agree on every
    // bucket key.
    val bandCols = (0 until bands).map { b =>
      val elems = (b * r until (b + 1) * r)
        .map(j => element_at(col("__sig"), j + 1))
      struct(lit(b).as("band"), concat_ws(",", elems: _*).as("bucket"))
    }
    docs
      .select(col(idCol).cast("long").as("doc_id"), shingles.as("__sh"))
      .filter(size(col("__sh")) >= 1)
      .select(col("doc_id"),
        graft.expr.TextExpressions.minhashSigs(col("__sh"), k).as("__sig"))
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"),
        col("__sig").as("sig"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"), col("sig"))
  }
}
