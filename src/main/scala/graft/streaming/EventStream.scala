package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
import org.apache.spark.sql.types._

/** Structured Streaming lift of the engine.
  *
  * The reference has no streaming (SURVEY.md §2.10) — "live" processing is
  * one synchronous chunk through a recipe. Because every operator here is
  * a pure DataFrame => DataFrame, the same step chain runs under
  * `readStream`/`foreachBatch` unchanged; this module adds the genuinely
  * streaming pieces: watermarked event-time windows and stateful
  * sessionization over the `events` shape
  * (event_id, ts, user_id, event_type, value).
  *
  * Scale: state is keyed by user_id → partitioned across executors;
  * watermark bounds state size.
  */
object EventStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Schema of a raw driver parquet, for streaming readers (which must
    * declare a schema up front): derived from a one-off batch read of
    * the SAME file, so the stream adapts to whatever physical type the
    * driver generated exactly like the batch path does (r8 ADVICE: a
    * hard-pinned TimestampNTZType here would make q40 fail at read if
    * events.parquet were regenerated as TIMESTAMP_NANOS while batch
    * silently kept working). Cost: one footer read at plan build. */
  def rawSchemaOf(spark: SparkSession, path: String): StructType =
    spark.read.parquet(path).schema

  /** Watermarked tumbling-window aggregation — the streaming analogue of
    * the q18 batch window query (decimal-exact sums, same determinism
    * contract). */
  def windowedCounts(events: DataFrame, tsCol: String = "ts",
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  // ------------------------------------------------------- sessionization
  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, sum: BigDecimal)
  case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long, sum_value: Double)

  /** Gap-based sessionization with flatMapGroupsWithState: a session
    * closes after `gapMs` of user inactivity.
    *
    * STREAMING: state carries the user's open session across
    * micro-batches; closed sessions (a newer event opened the next one)
    * emit immediately, and the open session emits when the EVENT-TIME
    * timeout fires — i.e. once the watermark passes last-event + gap.
    * BATCH: all of a user's events arrive in one invocation; every
    * session emits and no state survives (same results as the oracle).
    *
    * Determinism: events order by (epoch ms, event_id); values accumulate
    * as exact decimals so the session sum is independent of fold order —
    * same contract as the engine's decimal-sum aggregations. */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "2 hours"): DataFrame = {
    import spark.implicits._
    val streaming = events.isStreaming
    // null-tolerance BEFORE the typed boundary: Ev carries primitive
    // Long/Double fields, so one row with a null value/event_id would
    // kill the query — and in streaming mode every restart would re-read
    // the same poison offset and die again. Rows without a user or a
    // timestamp cannot be sessionized at all and are dropped; a null
    // value contributes 0 (SQL SUM semantics) and a null event_id sorts
    // first among equal timestamps.
    val ds0 = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .selectExpr(
        s"coalesce(event_id, ${Long.MinValue}L) AS event_id",
        "ts", "user_id", "event_type", "coalesce(value, 0.0) AS value")
      .as[Ev]
    val ds = if (streaming) ds0.withWatermark("ts", watermark) else ds0
    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val out = ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, timeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          def emit(s: SessionState) = SessionOut(user, s.start, s.last, s.n, s.sum.toDouble)
          if (streaming && state.hasTimedOut) {
            // watermark passed the open session's end + gap → close it
            val open = state.getOption.getOrElse(Nil)
            state.remove()
            open.reverseIterator.map(emit)
          } else {
            // fold this invocation's events onto the carried open session
            // (newest session at the head)
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val prev = if (streaming) state.getOption.getOrElse(Nil) else Nil
            def fold(init: List[SessionState], es: Seq[Ev]) =
              es.foldLeft(init) { (acc, e) =>
                val t = e.ts.getTime
                val v = BigDecimal(e.value).setScale(2, BigDecimal.RoundingMode.HALF_UP)
                acc match {
                  // merge iff the event falls within gap of the session's
                  // SPAN on either side. An out-of-order event (within the
                  // watermark) can be older than the carried head — bounds
                  // must never regress, or end_ms is wrong and a later
                  // in-gap event would wrongly open a new session.
                  case head :: tail if t - head.last <= gapMs &&
                      t >= head.start - gapMs =>
                    SessionState(math.min(head.start, t), math.max(head.last, t),
                      head.n + 1, head.sum + v) :: tail
                  case _ =>
                    SessionState(t, t, 1, v) :: acc
                }
              }
            // events older than the carried session's start by more than
            // the gap belong to their own, already-past sessions: a real
            // silence separates them from the open head, so they must NOT
            // merge with it (batch/oracle gap semantics would split) —
            // sessionize them among themselves and emit them as closed.
            // Remaining corner (documented best effort): a late event
            // within gap of a start that ANOTHER late event just pulled
            // down is still split; exact repair needs the full history,
            // which watermarked state no longer holds.
            val (lateEvs, mainEvs) = prev match {
              case head :: _ => sorted.partition(_.ts.getTime < head.start - gapMs)
              case Nil       => (Seq.empty[Ev], sorted)
            }
            // list is newest-first: late sessions append below everything
            val sessions = fold(prev, mainEvs) ++ fold(Nil, lateEvs)
            if (streaming) {
              // keep the newest (still-open) session in state; emit the
              // rest, oldest first
              val (open, closed) = sessions match {
                case h :: t => (List(h), t)
                case Nil    => (Nil, Nil)
              }
              open match {
                case h :: _ =>
                  state.update(open)
                  state.setTimeoutTimestamp(h.last + gapMs)
                case Nil => state.remove()
              }
              closed.reverseIterator.map(emit)
            } else {
              state.remove()
              sessions.reverseIterator.map(emit)
            }
          }
      }
    out.toDF()
  }

  /** Streaming ingest-time decontamination: flag stream rows sharing a
    * word n-gram with a STATIC benchmark set, as a PURE MAP over the
    * stream — the test set's gram hashes broadcast once at plan build
    * and each row checks its own grams row-local. No stream-static
    * join state, no per-batch shuffle, state size zero: the shape that
    * survives any ingest rate.
    *
    * Membership is EXACT by default (`fpp = None`): the distinct gram
    * hashes ride as one sorted long array (8 B a gram — benchmark
    * suites are the declared-small artifact, 8 MB per million grams)
    * and each probe is a binary search. `fpp = Some(p)` swaps in the
    * shared Bloom builder (`TextAnalysis.testGramBloom`) for suites too
    * big to ship exactly — that variant is conservative-approximate
    * (clean rows flag true at SOME small rate, contaminated rows
    * always flag — no false negatives), and the column name
    * `maybe_contaminated` is honest about it. Do NOT reach for a
    * vanishingly small fpp as a stand-in for exactness: Spark's Bloom
    * uses 32-bit double hashing whose FP floor ignores the nominal fpp
    * (measured: an FP among 51 probes of a 1 384-gram filter built at
    * 1e-9 — the q71 sf0.001 off-by-one, round 9). Exact accounting for
    * the approximate variant belongs to the batch pass
    * (`TextAnalysis.contaminationFlags`): flag at ingest, settle in
    * batch. */
  def contaminationFlagsStream(stream: DataFrame, test: DataFrame,
      textCol: String, n: Int = 13, testTextCol: Option[String] = None,
      fpp: Option[Double] = None): DataFrame = {
    import graft.text.TextAnalysis
    import graft.functions.Tools
    val grams = transform(TextAnalysis.distinctWordNgrams(
      Tools.normalize(col(textCol)), lit(n)), g => xxhash64(g))
    // one shared builder per variant (sizing/coalesce tuning lives in
    // TextAnalysis) — this module only decides what to do with the bits
    val flag = fpp match {
      case None =>
        TextAnalysis.testGramSet(test, testTextCol.getOrElse(textCol), n) match {
          case None => lit(false) // empty benchmark → nothing can hit
          case Some(sorted) =>
            val bc = stream.sparkSession.sparkContext.broadcast(sorted)
            val anyHit = udf { (gs: Seq[Long]) =>
              gs != null && gs.exists(h =>
                java.util.Arrays.binarySearch(bc.value, h) >= 0)
            }
            anyHit(grams)
        }
      case Some(p) =>
        TextAnalysis.testGramBloom(test, testTextCol.getOrElse(textCol), n, p) match {
          case None => lit(false)
          case Some(bf) =>
            val bc = stream.sparkSession.sparkContext.broadcast(bf)
            val anyHit = udf { (gs: Seq[Long]) =>
              gs != null && gs.exists(bc.value.mightContainLong)
            }
            anyHit(grams)
        }
    }
    // opaqueBool barrier: the drop variant filters on this column — see
    // nearDupFlagsStream (same amplification, same fix)
    stream.withColumn("maybe_contaminated",
      graft.functions.Tools.opaqueBool(flag))
  }

  /** Drop-variant of [[contaminationFlagsStream]]: keep only rows the
    * filter clears (exact at the default `fpp = None`; conservative
    * under a Bloom — see the note there). */
  def decontaminateStream(stream: DataFrame, test: DataFrame,
      textCol: String, n: Int = 13, testTextCol: Option[String] = None,
      fpp: Option[Double] = None): DataFrame =
    contaminationFlagsStream(stream, test, textCol, n, testTextCol, fpp)
      .filter(!col("maybe_contaminated"))
      .drop("maybe_contaminated")

  /** Ingest-time NEAR-dup prefilter against a persisted band index
    * ([[graft.dedup.Dedup.writeNearDupIndex]]): each incoming row is
    * signed ROW-LOCALLY with the manifest's parameters (shingle →
    * minhash → band buckets — the batch family's exact arithmetic via
    * Dedup.shingleHash, so gate and index cannot drift) and flagged
    * `maybe_near_dup` when ANY of its band buckets exists in the
    * corpus index. This is the batch operator's CANDIDATE test as a
    * pure broadcast-membership map — no state, no join, no shuffle —
    * under the ingest-then-batch double-pass discipline
    * ([[contaminationFlagsStream]]): exact
    * Jaccard accounting belongs to the batch verify; this gate only
    * bounds what ingest admits. Flags are CONSERVATIVE by construction:
    * a bucket collision without true similarity adds a false flag the
    * batch pass settles, and a true near-dup is missed only where LSH
    * banding itself would miss it (the same recall dial as the batch
    * candidate join). Rows yielding no shingles (NULL/blank) are never
    * flagged — unknown ≠ dirty, the family contract.
    *
    * `fpp = None` broadcasts the exact sorted distinct bucket array
    * (≤ bands·|corpus| longs — the bounded-corpus mode, and the only
    * EXACT-membership one); `fpp = Some(p)` broadcasts a Bloom over
    * the buckets for corpora past driver reach. The q71 lesson (Spark's
    * Bloom floors far above tiny nominal fpp) is ACCEPTABLE here,
    * unlike in decontamination: this flag is already conservative, so
    * a Bloom FP adds a false flag — it can never un-flag a real
    * candidate. */
  def nearDupFlagsStream(stream: DataFrame, indexPath: String,
      textCol: String, fpp: Option[Double] = None): DataFrame = {
    import graft.dedup.Dedup
    val spark = stream.sparkSession
    val (shingleSize, numHashes, bands, _) =
      Dedup.nearDupSignature(spark, indexPath, "nearDupFlagsStream")
    // tombstoned corpus docs (Dedup.deleteFromNearDupIndex) lose their
    // buckets here too: this gate DROPS flagged rows at ingest
    // (nearDupFilterStream), so a stale taken-down doc would silently
    // destroy new arrivals that merely resemble it — the one place a
    // conservative false flag is NOT settled by a later batch pass.
    // Shared buckets survive through their live docs (the anti-join is
    // on __cid, before the distinct). Streamed-not-yet-folded epochs
    // count too (openNearDupTable unions them) — this gate snapshots
    // the bucket set at CONSTRUCTION, so epochs streamed after the
    // gate was built need a rebuilt gate (or the admit stream, which
    // re-probes per batch).
    val corpusBuckets = Dedup.openNearDupTable(spark, indexPath,
        "bands", suppressDeletes = true)
      .select(col("bucket"))
    // the shingle UDF is the row's expensive part — materialize it ONCE
    // per row (a shared Column expression would re-run it under the
    // guard, the size check, and the signature)
    val sh = col("__gate_sh")
    val buckets = transform(
      Dedup.lshBands(Dedup.minhashSignature(sh, numHashes),
        bands, numHashes / bands),
      b => b.getField("bucket"))
    val anyHit: Column = fpp match {
      case None =>
        // size-gate the driver collect (r10 ADVICE — mirroring the
        // nHits <= 1e6 gating of incrementalNearDupsIndexed): the exact
        // path ships the index's full distinct bucket set to the
        // driver, which is fine for the bounded corpora it is meant for
        // (≤ bands·|corpus| longs) but OOMs the driver if someone
        // points the gate at a 100-TB index with defaults. ONE pass:
        // collect through a cap+1 limit and fail on overflow — a
        // separate count() gate would re-run the full distinct (r11
        // review finding); the limit bounds driver memory to exactly
        // what the happy path accepts anyway. The column collects as
        // PRIMITIVE longs (r11 ADVICE: generic Rows box every element —
        // several GB of Row overhead at the cap, so the collect itself
        // could OOM a default driver before the require fired), and the
        // cap is sized from the driver's OWN heap — at most 1/16 of
        // max heap as 8-byte longs, ceilinged at 16M (128 MB). Fail
        // loudly and name the Bloom escape hatch rather than
        // auto-degrade: swapping in a Bloom silently would change the
        // flag's exactness contract under the caller.
        val cap = math.min(16000000L,
          Runtime.getRuntime.maxMemory() / (16L * 8L)).toInt
        val sorted = corpusBuckets.distinct().limit(cap + 1)
          .select(col("bucket").cast("long"))
          .as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect()
        require(sorted.length <= cap,
          s"nearDupFlagsStream: the index at $indexPath has more than " +
            s"$cap distinct band buckets — too many to broadcast " +
            s"exactly (cap = min(16M, driverHeap/16 as longs) ≈ " +
            f"${cap * 8L / 1048576}%d MB of primitive longs); pass " +
            "fpp = Some(p) to gate through a Bloom filter instead " +
            "(conservative: adds false flags only, never misses a " +
            "candidate)")
        java.util.Arrays.sort(sorted)
        if (sorted.isEmpty) lit(false)
        else {
          val bc = spark.sparkContext.broadcast(sorted)
          val hit = udf { (bs: Seq[Long]) =>
            bs != null && bs.exists(h =>
              java.util.Arrays.binarySearch(bc.value, h) >= 0)
          }
          hit(buckets)
        }
      case Some(p) =>
        require(p > 0 && p < 1, s"bloom fpp must be in (0, 1), got $p")
        val n = corpusBuckets.count()
        if (n == 0) lit(false)
        else {
          val bf = corpusBuckets.coalesce(8).stat.bloomFilter("bucket", n, p)
          val bc = spark.sparkContext.broadcast(bf)
          val hit = udf { (bs: Seq[Long]) =>
            bs != null && bs.exists(bc.value.mightContainLong)
          }
          hit(buckets)
        }
    }
    // the verdict rides an opaqueBool barrier (r15): the drop variant
    // filters on this column, and pushdown would otherwise inline the
    // whole shingle → signature → band → membership chain into the
    // predicate, re-evaluating it once per reference (measured 13.3 →
    // 0.6 s at sf0.1 for the gate shape — Tools.opaqueBool scaladoc)
    stream
      .withColumn("__gate_sh", Dedup.shingleHash(col(textCol), shingleSize))
      .withColumn("maybe_near_dup", graft.functions.Tools.opaqueBool(
        when(sh.isNotNull && size(sh) > 0, anyHit).otherwise(lit(false))))
      .drop("__gate_sh")
  }

  /** Drop-variant of [[nearDupFlagsStream]]: admit only rows the gate
    * clears (conservative — see the flag contract there). */
  def nearDupFilterStream(stream: DataFrame, indexPath: String,
      textCol: String, fpp: Option[Double] = None): DataFrame =
    nearDupFlagsStream(stream, indexPath, textCol, fpp)
      .filter(!col("maybe_near_dup"))
      .drop("maybe_near_dup")

  /** Ingest-time ANN probe against a persisted IVF index — the
    * EMBEDDING sibling of [[nearDupFlagsStream]]'s shingle gate,
    * closing the ingest router's last modality (near-dup →
    * decontaminate → classify → quality+PII now has a semantic
    * neighbor lookup): each micro-batch of arriving query vectors runs
    * the BATCH index probe VERBATIM, manifest-dispatched across the
    * index layouts ([[graft.sim.Ann.ivfIndexTopKAuto]] — the
    * manifest is the authority, so gate and batch probe cannot drift),
    * and appends its hits to `outPath`.
    *
    * This is deliberately the batch-of-stream shape, not a stream-side
    * reimplementation: top-k ranking needs per-query windows that
    * Structured Streaming forbids on an unbounded stream, but each
    * micro-batch is a bounded DataFrame where the batch operator —
    * partition-pruned cell reads and all — runs unchanged, and a probe
    * answers PER QUERY, so queries partition across micro-batches
    * independently and the union of micro-batch outputs IS the batch
    * answer over the same rows (spec-pinned, including under
    * maxFilesPerTrigger=1). Zero streaming state; per-batch cost is
    * the batch probe's own (nprobe/nlist of the index bytes). The
    * caller's contract: unique query ids per stream (the
    * [[classifyStream]] duplicate-id caveat — an id arriving in TWO
    * micro-batches probes twice and emits both results; dedup the
    * ids at ingest first). A missing/torn index
    * refuses at STREAM START, not first batch (the probe's loud
    * contract).
    *
    * Sink idempotency (r12 review): foreachBatch is AT-LEAST-ONCE — a
    * crash between a successful write and the checkpoint commit
    * replays the epoch — so each epoch OVERWRITES its own
    * subdirectory (`outPath/epoch_N`) instead of appending to a flat
    * dir, and a replay lands on the same path instead of duplicating
    * every hit row. Read the results back with
    * `option("recursiveFileLookup", "true")` (the underscore dir name
    * is deliberately NOT partition syntax, so no phantom column
    * appears in the schema).
    *
    * Caller contract (r12 ADVICE): `outPath` and `checkpoint` live
    * and die TOGETHER. Epoch numbering restarts at 0 under a fresh
    * checkpoint, so reusing an old outPath with a new/cleared
    * checkpoint would silently mix (and partially overwrite) a
    * previous invocation's epoch_N dirs into the read-back — this
    * entry point therefore REFUSES a non-empty outPath when the
    * checkpoint does not exist yet (clear both, or keep both).
    * Returns the started query; caller awaits/stops. */
  def annProbeStream(stream: DataFrame, indexPath: String, idCol: String,
      vecCol: String, k: Int, nprobe: Int, outPath: String,
      checkpoint: String, excludeSelf: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sim.Ann
    Ann.ivf(stream.sparkSession, indexPath).certified("annProbeStream")
    val hconf = stream.sparkSession.sparkContext.hadoopConfiguration
    // "fresh" = no committed offsets yet — an existing-but-EMPTY
    // checkpoint dir (mkdir'd by a temp-dir helper, or rm -rf'd of its
    // contents) restarts epoch numbering exactly like a missing one,
    // so testing dir existence would let the docstring's 'cleared
    // checkpoint' case slip through (round-13 review)
    val offsP = new org.apache.hadoop.fs.Path(checkpoint, "offsets")
    val outP = new org.apache.hadoop.fs.Path(outPath)
    val outFs = outP.getFileSystem(hconf)
    if (!offsP.getFileSystem(hconf).exists(offsP) &&
        outFs.exists(outP) && outFs.listStatus(outP).nonEmpty)
      sys.error(s"annProbeStream: checkpoint '$checkpoint' is fresh (no " +
        s"committed offsets) but outPath '$outPath' is not empty — epoch " +
        "numbering restarts at 0 under a fresh checkpoint and would " +
        "silently mix with (and partially overwrite) the leftover epoch " +
        "dirs; clear outPath and checkpoint together, or keep both to " +
        "resume")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        Ann.ivfIndexTopKAuto(batch.sparkSession, indexPath, batch,
            idCol, vecCol, k, nprobe, excludeSelf)
          .write.mode("overwrite").parquet(s"$outPath/epoch_$epoch")
      }
      .start()
  }

  /** Stream → persisted IVF ANN index: each micro-batch of admitted
    * embeddings is encoded under the index's STORED geometry (cells
    * under the build's centroids, payload under the build's SQ8
    * grid / PQ codebooks — [[graft.sim.Ann.encodeUnderStoredGeometry]],
    * the layout's one encode, shared with the batch append and the
    * build so they cannot drift)
    * and lands in the index's `stream/` table, hive-partitioned by
    * (__epoch, __cell). This closes the ingest loop: rows the router
    * admits become PROBE-VISIBLE immediately — the probe
    * reads built ∪ streamed (ivfIndexTopKAuto unions the two, each side
    * still partition-pruned on __cell) — and
    * [[graft.sim.Ann.compactIvfIndex]] folds the epochs into the main
    * table off the hot path (the LSM shape).
    *
    * Replay idempotency (the annProbeStream discipline, applied to a
    * SINK that accumulates): foreachBatch is at-least-once, and a
    * replayed `write.mode(append)` would duplicate every row — so
    * each epoch DYNAMIC-OVERWRITES only its own partitions, keyed by
    * (__stream, __epoch): `__stream` is a hash of the CHECKPOINT path
    * (epoch numbering is checkpoint-scoped, so the partition key must
    * be too — a fresh checkpoint's epoch 0 lands in its own
    * incarnation's partitions instead of colliding with an older
    * stream's), and a replay of (tag, N) rewrites exactly its own
    * rows. A replay of an epoch compactIvfIndex ALREADY FOLDED is
    * skipped via the manifest's `stream_marks` watermark — rewriting
    * it into stream/ would double rows the main table now holds (r13
    * review). Two start-time refusals: a missing/torn index, and a
    * fresh checkpoint (no committed offsets) whose tag already has
    * leftover epochs or a compaction mark — reusing a checkpoint PATH
    * after clearing it would replay epoch numbers into a history that
    * remembers them; use a NEW checkpoint path instead.
    *
    * Per-batch cost: geometry loads ONCE at start (manifest torn
    * checks, centroids and the quantized layouts' codebook table,
    * both PERSISTED for the stream's lifetime and released when the
    * query terminates — r13 review: re-reading per micro-batch
    * repeated a count job and codebook footer reads every trigger;
    * the PQR coarse collect still runs per batch but against the
    * cached centroid blocks); each batch pays one tiny manifest
    * re-read serving two purposes — the out-of-band REBUILD tripwire
    * (`geom_id` changes on retrain; version/built_ms can't
    * distinguish a legitimate concurrent compaction from a retrain,
    * the geometry identity can) and the current compaction watermarks
    * (see above). Empty micro-batches write nothing. The manifest stays untouched by the stream
    * (version bumps belong to batch appends/compaction); duplicate
    * ids across epochs are the caller's contract, same as the batch
    * append (dedup at ingest first — the q107 discipline). Single
    * streaming writer per index; stop the stream before a REBUILD
    * (an in-flight batch encoding under the old geometry could land
    * after the rebuild's stream/ clear — the same out-of-band
    * contract every probe documents). Returns the started query;
    * caller awaits/stops.
    *
    * `compactAfterEpochs` / `compactAfterRowsPct` enable the
    * auto-compaction policy ([[graft.sim.Ann.maybeCompactIvfIndex]]):
    * after each micro-batch lands, the stream/ backlog is checked
    * (pure directory listing for the epoch rule) and a fold runs when
    * the threshold is crossed — inside foreachBatch, so it never
    * overlaps this sink's own epoch writes, and the snapshot
    * discipline covers the rest. */
  def appendIvfIndexStream(stream: DataFrame, indexPath: String,
      idCol: String, vecCol: String, checkpoint: String,
      compactAfterEpochs: Option[Int] = None,
      compactAfterRowsPct: Option[Double] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sim.Ann
    val spark = stream.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    // geometry loads + validates ONCE (torn checks included); the
    // cached centroids + codebook serve every micro-batch — per-batch
    // work is one manifest re-read (the retrain/marks read) + the
    // encode
    val (mf0, cent0) =
      Ann.loadIndexGeometry(spark, indexPath, "appendIvfIndexStream")
    val tag = streamTag(checkpoint, hconf)
    val offsP = new org.apache.hadoop.fs.Path(checkpoint, "offsets")
    val tagDir = new org.apache.hadoop.fs.Path(
      s"$indexPath/stream/__stream=$tag")
    if (!offsP.getFileSystem(hconf).exists(offsP) &&
        (tagDir.getFileSystem(hconf).exists(tagDir) ||
          mf0.streamMarks.contains(tag)))
      sys.error(s"appendIvfIndexStream: checkpoint '$checkpoint' is " +
        s"fresh (no committed offsets) but the index at $indexPath " +
        s"already has epochs or a compaction mark for its tag " +
        s"'$tag' — a restarted epoch numbering would collide with " +
        "(or be skipped against) that history; use a NEW checkpoint " +
        "path, or keep the old checkpoint to resume")
    // persist AFTER the refusals (a refused call must not leak cache
    // entries); released when THIS query terminates, via a one-shot
    // listener — the sink may outlive this method by days
    val cent = cent0.persist()
    val extra = mf0.layout.table
      .map(t => spark.read.parquet(s"$indexPath/$t").persist())
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        appendIvfBatch(batch, indexPath, idCol, vecCol, tag, epoch,
          pre = (mf0, cent), preExtra = extra)
        graft.sim.Ann.maybeCompactIvfIndex(spark, indexPath,
          compactAfterEpochs, compactAfterRowsPct)
        ()
      }
      .start()
    val qid = q.id
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            cent.unpersist()
            extra.foreach(_.unpersist())
            spark.streams.removeListener(this)
          }
      })
    q
  }

  /** The checkpoint-scoped stream incarnation tag: epoch ids are only
    * unique within one checkpoint, so everything keyed by epoch
    * (partitions, compaction marks) is keyed by this too. Hashes the
    * QUALIFIED path, not the raw string (r13 review: '/tmp/ck',
    * 'file:///tmp/ck' and '/tmp/ck/' are one physical checkpoint and
    * must be one tag — a replay under a respelled path would
    * otherwise land beside the original epochs instead of overwriting
    * them). */
  private[graft] def streamTag(checkpoint: String,
      hconf: org.apache.hadoop.conf.Configuration): String = {
    val p = new org.apache.hadoop.fs.Path(checkpoint)
    val qualified = p.getFileSystem(hconf).makeQualified(p).toString
    java.security.MessageDigest.getInstance("MD5")
      .digest(qualified.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map("%02x".format(_)).mkString
  }

  /** One micro-batch of [[appendIvfIndexStream]] — package-visible so
    * the replay spec can drive the exact at-least-once cases (same
    * (tag, epoch) twice; a folded epoch's replay) without a crash
    * harness. */
  private[graft] def appendIvfBatch(batch: DataFrame, indexPath: String,
      idCol: String, vecCol: String, tag: String, epoch: Long,
      pre: (graft.sim.Ann.IvfManifest, DataFrame),
      preExtra: Option[DataFrame] = None): Unit = {
    import graft.sim.Ann
    // marks are compared against manifest keys that were sanitized on
    // write — reject a tag the round trip would silently mangle (the
    // sanitize/compare asymmetry would make its watermark ineffective)
    require(tag.matches("[0-9a-zA-Z]+"),
      s"appendIvfBatch: stream tag '$tag' must be alphanumeric " +
        "(manifest mark keys are)")
    // patient read: a concurrent compaction retracts the certificate
    // for its narrow swap window — ride it out; a PERMANENT absence
    // (rebuild/crash) still fails after the budget. Stop the stream
    // during rebuilds (single-writer contract).
    val art = Ann.ivf(batch.sparkSession, indexPath)
    val mf = Ann.IvfManifest(art.certified("appendIvfIndexStream"))
    require(mf.geomId == pre._1.geomId,
      s"appendIvfIndexStream: the index at $indexPath was RETRAINED " +
        s"mid-stream (geometry id ${mf.geomId} != stream-start " +
        s"${pre._1.geomId}) — rows encoded under the old geometry " +
        "must not mix in; restart the stream against the new index")
    // a folded epoch's replay: its rows already live in assigned/
    // (stream_marks is compaction's receipt) — re-creating them in
    // stream/ would double every one of them in the probe union.
    // The CURRENT manifest's marks (not stream-start's): compaction
    // runs legitimately beside a live stream.
    if (mf.streamMarks.get(tag).exists(epoch <= _)) return
    if (batch.isEmpty) return // nothing to write, no empty epoch husk
    val (rows, _) = Ann.encodeUnderStoredGeometry(
      batch, idCol, vecCol, indexPath, "appendIvfIndexStream",
      pre = Some(pre), preExtra = preExtra)
    rows.withColumn("__stream", lit(tag)).withColumn("__epoch", lit(epoch))
      .repartition(col("__cell"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__stream", "__epoch", "__cell")
      .parquet(s"$indexPath/stream")
    // post-write verify (r13 review: the check-then-write race) — a
    // compaction that folded THIS epoch's previous dir between our
    // marks read and our write has already banked these rows in
    // assigned/; the dir we just re-created would double them, so
    // take it back. Between our write and this check the double
    // exists transiently; compaction itself also skips-and-sweeps
    // resurrected epochs (≤ mark), so the state can never become
    // permanent whichever side wins the race.
    if (art.manifestPatient().exists(_.streamMarks.get(tag).exists(epoch <= _)))
      art.fs.delete(art.at(s"stream/__stream=$tag/__epoch=$epoch"), true)
  }

  /** Stream arriving documents INTO the persisted near-dup band index
    * ([[appendIvfIndexStream]]'s sibling for the dedup corpus): each
    * micro-batch signs under the manifest's STORED signature — loaded
    * once at stream start, re-checked per batch as the mid-stream-
    * rebuild tripwire — and lands in the index's `stream_shingles/` +
    * `stream_bands/` tables partitioned by (__stream=checkpoint-tag,
    * __epoch), so an at-least-once replay overwrites its own epoch
    * rather than duplicating it and a FOLDED epoch's replay is
    * skipped against the manifest's `stream_marks`
    * ([[graft.dedup.Dedup.appendNearDupStreamBatch]] carries the full
    * race discipline, both sides). Every probe — the batch verdicts,
    * the streaming gate at construction — reads main ∪ streamed
    * epochs through one opener, and
    * [[graft.dedup.Dedup.compactNearDupIndex]] folds the backlog by
    * plain append-and-delete (the stream files carry the main
    * schema), O(streamed rows). A fresh checkpoint over a tag with
    * leftover epochs or a mark REFUSES at start (restarted epoch
    * numbering would collide with that history). Single streaming
    * writer per index; stop the stream before a REBUILD. Duplicate
    * ids are the caller's contract — this sink appends VERBATIM; use
    * [[nearDupAdmitStream]] for admit-and-remember. Returns the
    * started query; caller awaits/stops.
    *
    * `compactAfterEpochs` enables the auto-fold policy
    * ([[graft.dedup.Dedup.maybeCompactNearDupIndex]]'s epoch rule) —
    * checked after each micro-batch lands, inside foreachBatch, so it
    * never overlaps this sink's own epoch writes. */
  def appendNearDupIndexStream(stream: DataFrame, indexPath: String,
      idCol: String, textCol: String, checkpoint: String,
      compactAfterEpochs: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.dedup.Dedup
    val spark = stream.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val (ss, nh, nb, _) =
      Dedup.nearDupSignature(spark, indexPath, "appendNearDupIndexStream")
    val pre = (ss, nh, nb)
    val tag = streamTag(checkpoint, hconf)
    nearDupStreamRefusal(spark, indexPath, checkpoint, tag)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        Dedup.appendNearDupStreamBatch(batch, indexPath, idCol, textCol,
          tag, epoch, pre)
        Dedup.maybeCompactNearDupIndex(spark, indexPath,
          afterEpochs = compactAfterEpochs)
        ()
      }
      .start()
  }

  /** The SELF-GROWING ingest dedup gate — admit AND remember: each
    * micro-batch (1) probes the persisted band index for near-dups
    * (main tables ∪ all previously streamed epochs, so a doc admitted
    * in epoch 3 vetoes its clone arriving in epoch 7), (2) near-dedups
    * WITHIN the batch ([[graft.dedup.Dedup.minhashDedup]] under the
    * SAME stored signature — one similarity criterion, the
    * incrementalNearDedup contract), and (3) appends the admitted
    * docs to the index through the epoch-idempotent stream sink. The
    * probe carves out the batch's OWN (tag, epoch) partition, so an
    * at-least-once replay recomputes identical verdicts instead of
    * being vetoed by its previous incarnation, then overwrites that
    * partition with the same rows — idempotent end to end BY
    * CONSTRUCTION, no dedup-of-the-dedup. This closes the ingest loop
    * the batch-side q107 discipline opens: the corpus a 100-TB
    * pipeline dedups against IS the set of docs it already admitted,
    * updated in-stream without re-signing anything. Admitted rows
    * live in the index (probe-visible immediately; folded to the main
    * tables by compaction) — compose the router's OTHER stages before
    * this sink, and read admitted ids from the index tables. */
  def nearDupAdmitStream(stream: DataFrame, indexPath: String,
      idCol: String, textCol: String, checkpoint: String,
      threshold: Double = 0.6,
      compactAfterEpochs: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.dedup.Dedup
    val spark = stream.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val (ss, nh, nb, _) =
      Dedup.nearDupSignature(spark, indexPath, "nearDupAdmitStream")
    val pre = (ss, nh, nb)
    val tag = streamTag(checkpoint, hconf)
    nearDupStreamRefusal(spark, indexPath, checkpoint, tag)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        // a FOLDED epoch's replay skips the probe too (its verdicts
        // were already acted on; appendNearDupStreamBatch would skip
        // the write anyway) — PATIENT, riding out a concurrent fold's
        // retraction window. The probe's caches live for this batch:
        // they join the batch, so the fold's table reads cannot hit them
        graft.engine.CacheScope.run {
          if (!batch.isEmpty &&
              !Dedup.bandIndex(spark, indexPath).manifestPatient()
                .exists(_.streamMarks.get(tag).exists(epoch <= _))) {
            val verdicts = Dedup.incrementalNearDupsIndexedImpl(
              batch, indexPath, idCol, textCol, threshold,
              bloomFpp = None, excludeEpoch = Some((tag, epoch)))
            val survivors = batch.join(
              verdicts.filter(!col("kept")).select(col(idCol)),
              Seq(idCol), "left_anti")
            val admitted = Dedup.minhashDedup(survivors, idCol, textCol,
              threshold, shingleSize = pre._1, numHashes = pre._2,
              bands = pre._3)
            Dedup.appendNearDupStreamBatch(admitted, indexPath, idCol,
              textCol, tag, epoch, pre)
            Dedup.maybeCompactNearDupIndex(spark, indexPath,
              afterEpochs = compactAfterEpochs)
          }
        }
        ()
      }
      .start()
  }

  /** The shared fresh-checkpoint refusal of the two band-index stream
    * sinks (the [[appendIvfIndexStream]] discipline): no committed
    * offsets + leftover epochs or a mark for this tag = a restarted
    * epoch numbering that would collide with (or be skipped against)
    * that history. */
  private def nearDupStreamRefusal(spark: SparkSession,
      indexPath: String, checkpoint: String, tag: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val offsP = new org.apache.hadoop.fs.Path(checkpoint, "offsets")
    val leftover = Seq("shingles", "bands").exists { t =>
      val d = new org.apache.hadoop.fs.Path(
        s"$indexPath/stream_$t/__stream=$tag")
      d.getFileSystem(hconf).exists(d)
    }
    if (!offsP.getFileSystem(hconf).exists(offsP) &&
        (leftover ||
          graft.dedup.Dedup.bandIndex(spark, indexPath).manifestPatient()
            .exists(_.streamMarks.contains(tag))))
      sys.error(s"band-index stream sink: checkpoint '$checkpoint' " +
        s"is fresh (no committed offsets) but the index at $indexPath " +
        s"already has epochs or a compaction mark for its tag '$tag' " +
        "— a restarted epoch numbering would collide with (or be " +
        "skipped against) that history; use a NEW checkpoint path, " +
        "or keep the old checkpoint to resume")
  }

  /** Run a streaming plan over a bounded parquet dir and collect the
    * result synchronously via the memory sink (local smoke-test path).
    * `complete` mode emits final aggregates for bounded input; `append`
    * only emits below the watermark. */
  /** Ingest-time classifier gate: every arriving row scored under a
    * FITTED weight table ([[graft.ml.LinearClassifier]] output) as a
    * pure map per micro-batch — zero streaming state, the
    * decontaminateStream discipline. The declared-small weight table
    * (≤ buckets + 1 rows by construction) collects once and rides the
    * plan as literal arrays; the margin is a row-local fold over the
    * row's hashed tokens (`binary = true` folds distinct buckets —
    * MUST match the training call, the scoreTextClassifier contract),
    * seeded with the bias weight, unknown buckets contributing 0 —
    * the batch scorer's join semantics (spec-pinned equal).
    * NULL id or NULL text → NULL margin + NULL pred (the batch scorer
    * surfaces exactly those rows as unknown — the id column is part of
    * the contract, not decoration); blank text → bias-only margin.
    * One deliberate divergence: a stateless gate scores each row
    * INDEPENDENTLY, while the batch scorer pools a duplicated id's
    * tokens into one shared margin — feed the gate unique ids (the
    * fit's own contract) if the two must agree row for row. Adds
    * (margin, pred) to the stream. */
  def classifyStream(stream: DataFrame, weights: DataFrame,
      idCol: String, textCol: String, buckets: Int,
      lowercase: Boolean = true, binary: Boolean = false): DataFrame = {
    require(buckets >= 2, s"classifyStream: buckets must be >= 2, got $buckets")
    // the batch scorers' shape guard, mirrored: a multiclass table's
    // feat/w columns would select fine and then either collide in
    // map_from_arrays or silently sum margins across pairs
    require(!weights.columns.contains("label_a"),
      "classifyStream: this weight table carries pairwise labels — a " +
        "trainTextClassifierMulti model; gate with classifyStreamMulti")
    val rows = weights
      .select(col("feat").cast("long"), col("w").cast("long")).collect()
    require(rows.nonEmpty, "classifyStream: empty weight table " +
      "(a LinearClassifier fit always contains at least the bias row)")
    val bias = rows.find(_.getLong(0) == graft.ml.LinearClassifier.biasFeat)
      .map(_.getLong(1)).getOrElse(0L)
    val nonBias = rows.filter(_.getLong(0) != graft.ml.LinearClassifier.biasFeat)
    val wmap = map_from_arrays(
      lit(nonBias.map(_.getLong(0))), lit(nonBias.map(_.getLong(1))))
    val c = if (lowercase) lower(col(textCol)) else col(textCol)
    val hashed = transform(graft.functions.Tools.tokenize(c),
      t => pmod(conv(substring(md5(t), 1, 15), 16, 10).cast("long"),
        lit(buckets.toLong)))
    val folded = if (binary) array_distinct(hashed) else hashed
    val margin = when(col(idCol).isNotNull && col(textCol).isNotNull,
      aggregate(folded, lit(bias),
        (s, h) => s + coalesce(element_at(wmap, h), lit(0L))))
    stream
      .withColumn("margin", margin)
      .withColumn("pred",
        when(col("margin") > 0, 1).when(col("margin").isNotNull, -1))
  }

  /** MULTICLASS ingest gate: [[classifyStream]]'s one-vs-one sibling —
    * each arriving row scored by every pairwise perceptron of a
    * [[graft.ml.LinearClassifier.trainTextClassifierMulti]] weight
    * table, majority vote, lexicographic tie-break, all as ONE
    * row-local expression (per-pair literal weight maps, a fold per
    * pair, then a vote fold over the class set known at plan time) —
    * zero streaming state, the ingest-time language/quality router.
    * Adds (pred_label, n_votes); NULL id / NULL text → NULL both (the
    * batch scorer's contract, spec-pinned equal row for row — the
    * per-row-vs-pooled duplicate-id caveat of [[classifyStream]]
    * applies here too). */
  def classifyStreamMulti(stream: DataFrame, weights: DataFrame,
      idCol: String, textCol: String, buckets: Int,
      lowercase: Boolean = true, binary: Boolean = false): DataFrame = {
    require(buckets >= 2,
      s"classifyStreamMulti: buckets must be >= 2, got $buckets")
    val rows = weights.select(col("label_a"), col("label_b"),
      col("feat").cast("long"), col("w").cast("long")).collect()
    require(rows.nonEmpty, "classifyStreamMulti: empty weight table")
    val pairs = rows.groupBy(r => (r.getString(0), r.getString(1)))
      .toSeq.sortBy(_._1)
    // every pair's weights become plan LITERALS here (that is what
    // keeps the gate stateless), so the expression grows as
    // pairs × buckets — cap it loudly before the plan does
    require(pairs.size <= 32,
      s"classifyStreamMulti: ${pairs.size} pairwise models embed " +
        s"~${pairs.size}×$buckets weight literals into one streaming " +
        "expression — cap is 32 pairs (a full one-vs-one space of 8 " +
        "classes = 28 pairs); route bigger label spaces through the " +
        "batch scorer after ingest")
    val classes = pairs.flatMap(p => Seq(p._1._1, p._1._2)).distinct.sorted
    val c = if (lowercase) lower(col(textCol)) else col(textCol)
    val hashed = transform(graft.functions.Tools.tokenize(c),
      t => pmod(conv(substring(md5(t), 1, 15), 16, 10).cast("long"),
        lit(buckets.toLong)))
    val folded = if (binary) array_distinct(hashed) else hashed
    // one winner Column per pair: margin fold under that pair's
    // literal map (bias seeded, unknown buckets 0), > 0 → label_a
    val winners = array(pairs.map { case ((a, b), ws) =>
      val bias = ws.find(_.getLong(2) == graft.ml.LinearClassifier.biasFeat)
        .map(_.getLong(3)).getOrElse(0L)
      val nb = ws.filter(_.getLong(2) != graft.ml.LinearClassifier.biasFeat)
      val wmap = map_from_arrays(
        lit(nb.map(_.getLong(2))), lit(nb.map(_.getLong(3))))
      val margin = aggregate(folded, lit(bias),
        (s, h) => s + coalesce(element_at(wmap, h), lit(0L)))
      when(margin > 0, lit(a)).otherwise(lit(b))
    }: _*)
    // the vote: per-class counts as ONE array column, argmax via ONE
    // aggregate lambda. A Scala-level when-chain foldLeft here would
    // embed its accumulator twice per step — 2^k subtree copies of the
    // winners array, blowing codegen at the class cap — while
    // aggregate's lambda is a single plan node however many classes,
    // and the winners array materializes once as a real column.
    // Ascending class order + strict > keeps the lexicographically
    // smallest leader on ties — exactly the batch scorer's
    // (votes desc, label asc) window.
    val votes = array(classes.map(cl => struct(
      size(filter(col("__winners"), x => x === cl)).cast("long").as("n"),
      lit(cl).as("lb"))): _*)
    val best = aggregate(col("__votes"),
      struct(lit(-1L).as("n"), lit(null).cast("string").as("lb")),
      (acc, v) => when(v.getField("n") > acc.getField("n"), v).otherwise(acc))
    val known = col(idCol).isNotNull && col(textCol).isNotNull
    stream
      .withColumn("__winners", winners)
      .withColumn("__votes", votes)
      .withColumn("__best", when(known, best))
      .withColumn("pred_label", col("__best").getField("lb"))
      .withColumn("n_votes", col("__best").getField("n"))
      .drop("__winners", "__votes", "__best")
  }

  /** Ingest-time QUALITY + PII gate — the last stages of the full
    * ingest router (near-dup gate → decontamination → classifier →
    * quality → scrub; [[nearDupFlagsStream]] / [[decontaminateStream]] /
    * [[classifyStream]] are the earlier ones), both already pure
    * row-local Columns ([[graft.text.Curation.gopherKeep]] /
    * [[graft.text.Curation.scrubPii]]), lifted over a stream as a pure
    * map: zero streaming state, no watermark — the shape that survives
    * any ingest rate. Adds `keep` (the Gopher-rule verdict at the
    * given word bounds; NULL text yields NULL — unknown ≠ verdict, the
    * batch operator's contract) and `clean_text` (the PII-scrubbed
    * text; NULL stays NULL). Batch ≡ stream row for row (spec-pinned:
    * the columns are the batch operators VERBATIM). Routing on the
    * verdict is the caller's composition (`.filter(col("keep"))` to
    * admit, the usual ingest-then-batch double-pass discipline for
    * exact accounting). */
  def qualityGateStream(stream: DataFrame, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    stream
      .withColumn("keep",
        graft.text.Curation.gopherKeep(col(textCol), minWords, maxWords))
      .withColumn("clean_text", graft.text.Curation.scrubPii(col(textCol)))

  def runOnce(spark: SparkSession, dir: String,
      plan: DataFrame => DataFrame, queryName: String,
      schema: StructType = eventSchema, outputMode: String = "append",
      globFilter: Option[String] = None): DataFrame = {
    val reader = spark.readStream.schema(schema)
    val stream = globFilter.fold(reader)(g => reader.option("pathGlobFilter", g))
      .parquet(dir)
    val q = plan(stream).writeStream
      .outputMode(outputMode).format("memory").queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }
}
