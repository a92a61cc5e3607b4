package graft.streaming

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.atomic.AtomicReference

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryProgress, Trigger}
import graft.Tables

/** Output row of the stateful session summary (update-mode sink schema). */
case class SessionRow(user_id: Long, n_events: Long, first_us: Long, last_us: Long)

/** Output row of [[AsOfEnrichProcessor]] — the `ev_asof_enrich` shape;
  * boxed match columns encode the left-outer nulls. */
case class AsOfRow(event_id: Long, user_id: Long, t_us: Long, value: Double,
    click_id: java.lang.Long, click_us: java.lang.Long,
    click_value: java.lang.Double)

/** The STATEFUL streaming as-of: per user, ValueState holds ONLY the
  * latest click seen so far — (c_us, max event_id at c_us, max value at
  * c_us), the exact (user, micros)-dedup rule of the batch click table —
  * and each purchase emits its enrichment against that state the moment
  * it arrives. State is ONE row per user regardless of stream length
  * (the bounded-feature-store shape); the time-ordered feed guarantees
  * arriving events never predate state, and within a batch rows are
  * sorted (t_us, clicks-first, event_id) so an equal-micros click is
  * visible to its purchase exactly as the batch `<=` semantics demand. */
class AsOfEnrichProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long, Long, Double), AsOfRow] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var st: ValueState[(Long, Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long, Double)]("click",
      org.apache.spark.sql.Encoders.product[(Long, Long, Double)], TTLConfig.NONE)

  override def handleInputRows(user: Long,
      rows: Iterator[(Long, Long, Long, Long, Double)],
      timerValues: TimerValues): Iterator[AsOfRow] = {
    // (user, t_us, is_click, event_id, value) sorted clicks-first at a tie
    val sorted = rows.toArray.sortBy(r => (r._2, 1L - r._3, r._4))
    var has = st.exists()
    var (cUs, cId, cVal) = if (has) st.get() else (0L, 0L, 0.0)
    val out = scala.collection.mutable.ArrayBuffer.empty[AsOfRow]
    sorted.foreach { case (_, t, isClick, id, v) =>
      if (isClick == 1L) {
        if (!has || t > cUs) { cUs = t; cId = id; cVal = v; has = true }
        else if (t == cUs) { // the batch dedup takes max id and max value
          if (id > cId) cId = id
          if (v > cVal) cVal = v
        } // t < cUs cannot happen on the time-ordered feed
      } else out += (
        if (has) AsOfRow(id, user, t, v, cId, cUs, cVal)
        else AsOfRow(id, user, t, v, null, null, null))
    }
    if (has) st.update((cUs, cId, cVal))
    out.iterator
  }
}

/** The Spark 4 arbitrary-state primitive (`transformWithState` /
  * `StatefulProcessor`): per-user running (count, min, max event time)
  * in an explicitly NAMED `ValueState` created in `init` — the successor
  * API to `mapGroupsWithState` (multiple named state variables, timers,
  * TTL, initial state), here computing exactly the
  * [[StreamingOps.sessionSummary]] contract so the two custom-state APIs
  * are hash-gated against the SAME closed-form oracle. Must not capture
  * anything non-serializable: keys/rows arrive through the handler
  * arguments. */
class SummaryProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), SessionRow] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var st: ValueState[(Long, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long, Long)]("summary",
      org.apache.spark.sql.Encoders.product[(Long, Long, Long)], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[SessionRow] = {
    val (c0, lo0, hi0) =
      if (st.exists()) st.get() else (0L, Long.MaxValue, Long.MinValue)
    var c = c0; var lo = lo0; var hi = hi0
    rows.foreach { case (_, t) =>
      c += 1
      if (t < lo) lo = t
      if (t > hi) hi = t
    }
    st.update((c, lo, hi))
    Iterator.single(SessionRow(user, c, lo, hi))
  }
}

/** Event-time GAP SESSIONIZATION through the full `transformWithState`
  * API surface (round 14): `ListState` buffers the open session's event
  * times, a registered EVENT-TIME TIMER (tracked in a `ValueState` so it
  * can be moved) closes the session when the watermark passes its
  * gap-extended end, and sessions split by an in-stream gap close inline
  * as their successor arrives. The feed is time-ordered (the
  * [[StreamingOps]] time-split discipline), so arriving events never
  * predate buffered state; within a batch the iterator is sorted before
  * folding. Emission is deterministic: every session except a user's
  * final open one closes inline, and the final one closes iff the
  * terminal watermark (max event time, delay 0) passes its end + gap —
  * exactly the rule the DuckDB oracle replays. */
class GapSessionProcessor(gapUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, java.sql.Timestamp), SessionRow] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var times: ListState[Long] = _
  @transient private var timer: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    times = getHandle.getListState[Long]("times",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    timer = getHandle.getValueState[Long]("timer",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  private def session(user: Long, buf: Seq[Long]): SessionRow =
    SessionRow(user, buf.size.toLong, buf.head, buf.last)

  override def handleInputRows(user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
      timerValues: TimerValues): Iterator[SessionRow] = {
    val incoming = rows.map(r => micros(r._2)).toArray.sorted
    var buf = times.get().toVector
    val closed = Vector.newBuilder[SessionRow]
    incoming.foreach { t =>
      if (buf.nonEmpty && t - buf.last > gapUs) {
        closed += session(user, buf)
        buf = Vector.empty
      }
      buf = buf :+ t
    }
    times.clear()
    times.put(buf.toArray)
    // move the close timer to the (possibly new) session end + gap.
    // CEILING to the ms (timers are ms-granular, the gap rule above is
    // µs-exact): a floored timer could fire in the boundary millisecond
    // and close a session that a successor arriving later in the same ms
    // (still within gapUs) should have extended. The oracle mirrors the
    // ceiling in its terminal-watermark emission filter.
    if (timer.exists()) getHandle.deleteTimer(timer.get())
    val expiryMs = (buf.last + gapUs + 999L) / 1000L
    getHandle.registerTimer(expiryMs)
    timer.update(expiryMs)
    closed.result().iterator
  }

  override def handleExpiredTimer(user: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionRow] = {
    val buf = times.get().toVector
    times.clear()
    timer.clear()
    if (buf.nonEmpty) Iterator.single(session(user, buf)) else Iterator.empty
  }
}

/** Structured Streaming equivalents of the reference's streaming surface
  * (SURVEY.md §2.1 S2/S3, §2.5 A6, §2.6 O5, K2): file-stream source with a
  * statically-bootstrapped schema, complete-mode stateful aggregation, and
  * — the 100 TB fix the reference lacks (§7.4 risk 3) — watermarked
  * event-time windows whose state is bounded.
  *
  * The verified queries below actually execute through MicroBatchExecution
  * into a memory sink (complete mode over a finite source ≡ the batch
  * aggregate, which is exactly the DuckDB oracle).
  */
object StreamingOps {

  /** State shuffle partitions for the verified streaming queries. The
    * partition count is baked into the state store layout at query start,
    * and every partition pays per-batch store open/commit/checkpoint cost —
    * at local[32] with 32 shuffle partitions that overhead dominated the
    * actual aggregation (~100× the batch twin). 4 partitions still
    * exercises distributed state and won the round-9 sweep over 8 and 16
    * in BOTH run orders (~10% family total, BENCH_NOTES); a production
    * job sizes this to cluster width × keys-per-partition, not to the
    * session default. */
  private val StreamShufflePartitions = "4"

  /** Default state store provider for the family. The fixture-scale state
    * is tiny (hundreds of keys), where provider fixed costs — native DB
    * open + changelog upload per partition per trigger for RocksDB vs an
    * in-memory map + one delta file for the HDFS provider — dominate; the
    * default is the measured winner (BENCH_NOTES round 8). Queries that
    * REQUIRE RocksDB (`transformWithState`) pin it explicitly, and a
    * production job with state past executor memory picks RocksDB via
    * the same parameter. */
  private val DefaultRocksDb = false

  /** Streaming checkpoint root on tmpfs when the platform has one. Every
    * trigger fsyncs the offset/commit logs and uploads per-partition
    * state checkpoints; on the default /tmp (spinning ext4 here) those
    * little synchronous writes are a fixed per-trigger tax across the
    * whole family. Checkpoint placement is a deployment knob — a
    * production job points it at the cluster DFS; the local harness
    * points it at the fastest durable-enough store it has. Registered
    * with [[graft.TempDirs]], so the exit sweep removes it. */
  private var ckptRootCache: Option[java.nio.file.Path] = None

  /** The root is SELF-HEALING, not a lazy val: `TempDirs.sweep()` may
    * legitimately run mid-JVM (its spec proves the exit sweep without
    * killing the process), deleting a previously-created root — a
    * cached path would then fail every later streaming query's
    * checkpoint creation. Re-create on first use after any sweep. */
  private def ckptRoot: Option[java.nio.file.Path] = synchronized {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (!(Files.isDirectory(shm) && Files.isWritable(shm))) None
    else {
      ckptRootCache = ckptRootCache.filter(Files.isDirectory(_))
        .orElse(Some(graft.TempDirs.createIn(shm, "graft-ckpt")))
      ckptRootCache
    }
  }

  /** Per-query-start checkpoint dir option (unique — checkpoints are
    * owned by one query for its lifetime); empty map → Spark's default
    * temp checkpoint behavior. */
  private def ckptOption: Map[String, String] =
    ckptRoot.map(r => "checkpointLocation" ->
      Files.createTempDirectory(r, "q").toString).toMap

  /** The record of one drained streaming run, returned by [[drain]] and
    * kept as this thread's [[lastRun]].
    *  - `plan`: the last micro-batch's EXECUTED plan — the streaming half
    *    of the plan ledger (round 14, VERDICT r13 #2). Batch digests
    *    can't see a streaming query's state-operator placement
    *    (StateStoreSave vs session-window stores vs stream-join state),
    *    so [[graft.PlanSnapshot]] digests this. Best-effort: "" when the
    *    runtime exposes no execution.
    *  - `batchPlan`: the last foreachBatch BODY plan (round 15, ADVICE
    *    r14 #3) for sinks whose merge/commit work runs as separate batch
    *    jobs the micro-batch plan never sees (the per-batch rank Window
    *    and target⋈batch join of `stream_merge_upsert`); "" otherwise.
    *  - `observedSums`: for each named observe node, every numeric metric
    *    column summed across the run's micro-batches — the streaming face
    *    of `Dataset.observe` (round 16, VERDICT r15 #7). At-least-once
    *    under batch REPLAY like foreachBatch itself, exact on a clean
    *    drain.
    *  - `complete`: false when the run produced at least as many progress
    *    entries as `spark.sql.streaming.numRecentProgressUpdates` retains
    *    — earlier batches may have been EVICTED, so `observedSums` and
    *    `inputRows` could undercount; a consumer deriving result rows from
    *    them must refuse them in that state.
    *  - `stateRows`: total state-store rows at the END of the run (-1
    *    without progress) — THE bounded-state scale signal
    *    [[graft.SoakStream]] records at 1×/3×/10× input.
    *  - `dataBatches`: micro-batches that carried input rows.
    *  - `inputRows`: input rows summed over the run's micro-batches.
    *  - `selfTerminated`: an AvailableNow run ended itself. */
  private[graft] final case class StreamRun(
      plan: String,
      batchPlan: String,
      observedSums: Map[String, Map[String, Long]],
      complete: Boolean,
      stateRows: Long,
      dataBatches: Int,
      inputRows: Long,
      selfTerminated: Boolean)

  /** PER-THREAD record of the last drained run (round 17, ADVICE r16: a
    * process-global record let two streaming queries drained from
    * different threads clobber each other). The builder that drains a
    * run and the consumer that reads its record execute on the same
    * thread, exactly like the result DataFrame threaded back as the
    * return value, so thread scope IS run scope for every drain. */
  private val runs = new ThreadLocal[StreamRun] {
    override def initialValue(): StreamRun =
      StreamRun("", "", Map.empty, true, -1L, 0, 0L, false)
  }

  private[graft] def lastRun: StreamRun = runs.get()

  /** Guards the session conf across a stream's start (see [[drain]]). */
  private val startLock = new Object

  /** Per-query state confs: shuffle (= state) partitions, the state store
    * provider (None unsets to Spark's HDFS-backed default), and RocksDB
    * CHANGELOG checkpointing (round 15, VERDICT r14 #4: each commit
    * uploads the delta since the last one instead of a full SST snapshot
    * — at 100 TB state, shipping what changed instead of the store). */
  private def stateConfs(parts: String, rocksDb: Boolean = DefaultRocksDb,
      changelog: Boolean = false): Map[String, Option[String]] =
    Map("spark.sql.shuffle.partitions" -> Some(parts),
      "spark.sql.streaming.stateStore.providerClass" -> Option.when(rocksDb)(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) ++
      (if (changelog) Map("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled" -> Some("true")) else Map.empty)

  /** Every stream's checkpoint files (offset and commit logs, metadata,
    * state) go through [[LocalCheckpointFileManager]]: no process fork per
    * file on a local checkpoint. */
  private val CheckpointManagerConf = "spark.sql.streaming.checkpointFileManagerClass"
  private val CheckpointManager = classOf[LocalCheckpointFileManager].getName

  /** Record the plan `df` executes into a foreachBatch run's holder —
    * called on the stream's own thread, folded into the run's
    * [[StreamRun]] by [[drain]]. */
  private def recordPlan(holder: AtomicReference[String], df: DataFrame): Unit =
    try holder.set(df.queryExecution.executedPlan.toString)
    catch { case scala.util.control.NonFatal(_) => () }

  /** How every stream in this module starts, drains and is recorded.
    *
    * START: `confs` (Some sets, None unsets) and the checkpoint file
    * manager ([[CheckpointManagerConf]]) hold only across `start()` and
    * the stream's initialization (its sources are built on its own thread
    * from the caller's session), on the caller's session, under
    * [[startLock]]. `StreamExecution` clones the session in its
    * constructor, so the stream's partitions and state store are fixed
    * by then; restoring right after leaves the caller's session as it
    * was, and two threads starting streams on one session cannot see
    * each other's confs (a batch job planned on another thread inside
    * that window can; the registered results declare their order, so
    * only its partition count moves).
    * Streams are NOT started in a child session: the listener bus reports
    * progress only for streams started through the session's own
    * manager, so a child session would hide them from the caller's
    * listeners. `table` starts the writer with `toTable` instead.
    *
    * DRAIN (outside the lock): the default trigger runs until
    * `processAllAvailable` returns, then the query is stopped;
    * `availableNow` runs under `Trigger.AvailableNow()` (round 16,
    * VERDICT r15 #1) — the query drains the source's backlog snapshot
    * across bounded micro-batches and STOPS ITSELF, the production
    * backfill/catch-up contract (the 300 s bound is a harness safety net,
    * only a hang hits it). The executed plan is captured before the stop
    * while the execution is still current.
    *
    * RECORD: the [[StreamRun]] becomes this thread's [[lastRun]], then
    * the multi-trigger contract is checked: at least `minDataBatches`
    * micro-batches must carry input, so a registered query proves its
    * execution spanned triggers (cross-batch state). `what` names the
    * query in that failure. */
  private[graft] def drain(spark: SparkSession, writer: DataStreamWriter[Row],
      confs: Map[String, Option[String]], minDataBatches: Int, what: String,
      availableNow: Boolean = false, table: Option[String] = None,
      batchPlan: AtomicReference[String] = new AtomicReference("")): StreamRun = {
    val w = if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer
    val startConfs = confs + (CheckpointManagerConf -> Some(CheckpointManager))
    val q = startLock.synchronized {
      // getAll holds only the explicitly set keys: getOption would read a
      // default back and restore it as an explicit setting
      val set = spark.conf.getAll
      val saved = startConfs.keys.map(k => k -> set.get(k)).toMap
      def put(c: Map[String, Option[String]]): Unit = c.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      put(startConfs)
      try {
        val started = table.fold(w.start())(w.toTable)
        // the stream's thread builds its sources from the caller's session
        // (not the clone): hold the confs until they exist
        execution(started).foreach(_.awaitInitialization(300000L))
        started
      } finally put(saved)
    }
    val (plan, selfTerminated) =
      try {
        val ended = availableNow && q.awaitTermination(300000L)
        if (availableNow && !ended) throw new IllegalStateException(
          s"$what: AvailableNow query did not self-terminate within 300 s")
        if (!availableNow) q.processAllAvailable()
        (executedPlan(q), ended)
      } finally q.stop()
    val progress = q.recentProgress.toSeq
    val retained = scala.util.Try(q.sparkSession.conf
      .get("spark.sql.streaming.numRecentProgressUpdates").toInt).getOrElse(100)
    val run = StreamRun(plan, batchPlan.get, observedSums(progress),
      complete = progress.length < retained,
      stateRows = Option(q.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L),
      dataBatches = progress.count(_.numInputRows > 0),
      inputRows = progress.map(_.numInputRows).sum,
      selfTerminated = selfTerminated)
    runs.set(run)
    if (run.dataBatches < minDataBatches) throw new IllegalStateException(
      s"$what ran ${run.dataBatches} data-carrying micro-batches, " +
        s"expected >= $minDataBatches (multi-trigger contract)")
    run
  }

  /** `q`'s execution, when the runtime exposes it. */
  private def execution(q: StreamingQuery): Option[StreamExecution] = q match {
    case w: StreamingQueryWrapper => Some(w.streamingQuery)
    case s: StreamExecution => Some(s)
    case _ => None
  }

  /** `q`'s last executed micro-batch plan, "" when none is exposed. */
  private def executedPlan(q: StreamingQuery): String =
    try execution(q).flatMap(se => Option(se.lastExecution))
      .map(_.executedPlan.toString).getOrElse("")
    catch { case scala.util.control.NonFatal(_) => "" }

  /** Per observe node, each numeric metric summed over the batches. */
  private def observedSums(progress: Seq[StreamingQueryProgress])
      : Map[String, Map[String, Long]] = {
    import scala.jdk.CollectionConverters._
    progress.flatMap(_.observedMetrics.asScala.toSeq)
      .groupBy(_._1)
      .map { case (name, batches) =>
        name -> batches.flatMap { case (_, row) =>
          row.schema.fields.flatMap { f =>
            row.getAs[Any](f.name) match {
              case n: Number => Some(f.name -> n.longValue())
              case _ => None
            }
          }
        }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      }
  }

  /** Hard cap on rows a memory sink may hand the driver. The memory sink
    * is inherently driver-side (fine for aggregate-sized results, which is
    * all the verified surface emits); this guard turns a future
    * unaggregated stream accidentally routed through here into a loud
    * error instead of a silent driver OOM. */
  val MaxSinkRows = 1000000L

  /** Runs a streaming frame to completion through a memory sink, then
    * materializes the result locally and DROPS the temp view — repeated
    * invocations in one session (Bench/Explain/Verify loops) must not
    * accumulate orphaned in-memory tables.
    *
    * State tuning is scoped to the query ([[drain]]): shuffle partitions
    * are lowered for the stateful exchange, and the state store provider
    * is per-query selectable with the measured family default
    * ([[DefaultRocksDb]]); `transformWithState` pins RocksDB, which is
    * the only provider it supports.
    *
    * @param minDataBatches fail unless at least this many micro-batches
    *        carried input rows — lets a registered query *prove* its
    *        execution spanned multiple triggers (cross-batch state).
    * @param maxRows fail loudly if the sink result exceeds this.
    * @param availableNow run under `Trigger.AvailableNow()` ([[drain]]). */
  def runToMemory(spark: SparkSession, streamed: DataFrame,
      mode: String = "complete", minDataBatches: Int = 0,
      maxRows: Long = MaxSinkRows,
      stateParts: String = StreamShufflePartitions,
      rocksDb: Boolean = DefaultRocksDb,
      changelog: Boolean = false,
      availableNow: Boolean = false): DataFrame = {
    val name = "graft_mem_" + UUID.randomUUID().toString.replace("-", "")
    try {
      drain(spark, streamed.writeStream.outputMode(mode).format("memory")
          .queryName(name).options(ckptOption),
        stateConfs(stateParts, rocksDb, changelog), minDataBatches,
        "streaming query", availableNow)
      val t = spark.table(name)
      val n = t.count()
      if (n > maxRows) throw new IllegalStateException(
        s"memory sink holds $n rows > cap $maxRows; an unaggregated stream " +
          "must not be materialized through the driver — write to a file sink")
      spark.createDataFrame(java.util.Arrays.asList(t.collect(): _*), t.schema)
    } finally spark.catalog.dropTempView(name)
  }

  /** File-sink escape hatch for results past [[MaxSinkRows]]: each
    * micro-batch lands in a parquet directory via foreachBatch (complete
    * mode overwrites with the full re-emitted state, append mode appends
    * the newly-finalized rows), and the result comes back as an ordinary
    * distributed scan — no row ever transits the driver, so the contract
    * is total in the result size. [[runToMemory]] stays the default with
    * its loud cap error; this is the opt-in path for aggregates with more
    * groups than the driver should hold. Same conf scoping (state
    * partitions, RocksDB provider) and multi-trigger proof as
    * runToMemory. */
  def runToFiles(spark: SparkSession, streamed: DataFrame,
      mode: String = "complete", minDataBatches: Int = 0,
      stateParts: String = StreamShufflePartitions,
      rocksDb: Boolean = DefaultRocksDb,
      outDir: Option[String] = None): DataFrame = {
    require(mode == "complete" || mode == "append",
      s"runToFiles supports complete|append, got '$mode'")
    val out = outDir.getOrElse(graft.TempDirs.create("graft-sink").toString)
    val complete = mode == "complete"
    drain(spark, streamed.writeStream.outputMode(mode)
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          writeBatchIdempotent(out, batch.toDF(), id, complete)
        }
        .options(ckptOption),
      stateConfs(stateParts, rocksDb), minDataBatches, "streaming query")
    // an empty stream (append mode, no finalized rows) writes no file;
    // reading the bare dir would die with an unrelated schema-inference
    // error, so return a typed empty frame with the streamed schema
    val wroteAny = Files.walk(java.nio.file.Paths.get(out))
    val hasData = try wroteAny.anyMatch(p => p.toString.endsWith(".parquet"))
      finally wroteAny.close()
    if (hasData) readBatchDirs(spark, out)
    else spark.createDataFrame(new java.util.ArrayList[Row](), streamed.schema)
  }

  /** Replay-idempotent file-sink write (round 13 — foreachBatch is
    * at-least-once, and the previous `mode("append")` spelling would
    * duplicate every row of a batch replayed after a crash between the
    * sink write and the checkpoint commit). Complete mode overwrites the
    * whole directory (naturally idempotent); append mode lands each
    * batch in its own batch-id-keyed subdirectory via OVERWRITE, so a
    * replay rewrites its own directory instead of appending a second
    * copy — the file-sink analog of mergeClassify's strictly-newer
    * condition, and exactly how a production job makes a blob-store
    * sink exactly-once without a transaction log. ChaosSpec pins the
    * double-invocation no-op. */
  private[graft] def writeBatchIdempotent(out: String, batch: DataFrame,
      id: Long, complete: Boolean): Unit =
    if (complete) batch.write.mode("overwrite").parquet(out)
    else batch.write.mode("overwrite").parquet(s"$out/batch-$id")

  /** Read a [[writeBatchIdempotent]] output tree (flat part files in
    * complete mode, batch-id subdirectories in append mode) as one scan. */
  private[graft] def readBatchDirs(spark: SparkSession, out: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(out)

  /** The per-trigger SERVE skeleton shared by the foreachBatch-transform
    * queries ([[streamAnnServe]], [[streamAsofEnrich]]): run `stream`
    * in append mode, apply `transform` to each micro-batch, ledger the
    * transformed plan as the run's `batchPlan`, land it idempotently
    * by batch id, prove the multi-trigger contract, and read the landed
    * tree back. One definition so the drain/count protocol and the
    * idempotent-landing discipline cannot drift between serve queries. */
  private def runForeachBatchToDirs(spark: SparkSession, stream: DataFrame,
      prefix: String, minDataBatches: Int, what: String)(
      transform: DataFrame => DataFrame): DataFrame = {
    val out = graft.TempDirs.create(prefix).toString
    val batchPlan = new AtomicReference("")
    drain(spark, stream.writeStream.outputMode("append")
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          val result = transform(batch.toDF())
          recordPlan(batchPlan, result)
          writeBatchIdempotent(out, result, id, complete = false)
        }
        .options(ckptOption),
      Map.empty, minDataBatches, what, batchPlan = batchPlan)
    readBatchDirs(spark, out)
  }

  /** Static-then-stream schema bootstrap (reference S3, q2:95-97). The
    * nanosecond-timestamp normalization (Tables.normalizeEvents) applies on
    * top of the streaming source exactly as it does on the batch scan. */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = eventsSchema(spark, dir)
    // the file-stream source tails a *directory* (reference S2 semantics);
    // the glob filter selects the events table out of the fixture dir
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    Tables.normalizeEvents(stream)
  }

  /** The shared per-type count aggregation over the event stream — ONE
    * definition for [[completeCounts]] (the emission) and [[stateReader]]
    * (the checkpoint-state introspection), so the spec-pinned equality
    * between what the job emits and what its state holds is structural,
    * never maintained by parallel edits. */
  private def eventTypeCounts(spark: SparkSession, dir: String): DataFrame =
    eventStream(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))

  /** Complete-mode grouped count over the event stream (A6 parity: state
    * retained, full result re-emitted per micro-batch). */
  def completeCounts(spark: SparkSession, dir: String): DataFrame = {
    runToMemory(spark, eventTypeCounts(spark, dir)).orderBy("event_type")
  }

  /** State-store introspection (round 13) — Spark's state data source,
    * the production ops/debugging tool: read a checkpoint's state store
    * back as a DataFrame WITHOUT running the streaming query. A
    * complete-mode grouped count runs over the event feed to a fresh
    * checkpoint; the registered result is then scanned straight out of
    * the checkpoint's state files via `format("statestore")` — key
    * struct, aggregation buffer, one row per state entry. The DuckDB
    * oracle recomputes the counts from the base table, so the
    * cross-engine gate covers the CHECKPOINT BYTES: a state codec
    * regression, a lost state partition, or a buffer-schema drift
    * hash-mismatches. At 100 TB this is how an on-call engineer answers
    * "what is in this job's state right now" — a bounded scan of the
    * state files, no replay, no code change to the job. */
  def stateReader(spark: SparkSession, dir: String): DataFrame = {
    val ckpt = graft.TempDirs.create("graft-state-read").toString
    drain(spark, eventTypeCounts(spark, dir).writeStream.outputMode("complete")
        .format("noop").option("checkpointLocation", ckpt),
      Map.empty, 0, "state reader")
    val raw = spark.read.format("statestore").load(ckpt)
    // key carries the group column; the value struct carries the agg
    // buffer. State format v2 (the default since Spark 2.4) stores ONLY
    // the buffer in the value — for this single count aggregate, exactly
    // one LongType field. Pin that assumption loudly: a v1-format
    // checkpoint (value = key columns + buffer) or a Spark-internal
    // buffer-schema drift fails here with a NAMED error instead of an
    // ambiguous-column resolution failure or a silent wrong column
    // (VERDICT r13 #5 / ADVICE r13).
    val valueType = raw.schema("value").dataType match {
      case s: org.apache.spark.sql.types.StructType => s
      case other => throw new IllegalStateException(
        s"statestore value column is $other, expected a struct — " +
          "the state data source's schema contract changed")
    }
    require(valueType.fields.length == 1 &&
      valueType.fields.head.dataType == org.apache.spark.sql.types.LongType,
      s"aggregation-buffer layout drifted: expected ONE LongType field " +
        s"(state format v2, single count buffer), got ${valueType.simpleString}" +
        " — a v1-format checkpoint or a Spark buffer-schema change")
    // the buffer field is selected EXPLICITLY from the value struct, so a
    // duplicate column name between key.* and value.* can never make the
    // projection ambiguous
    val bufField = valueType.fields.head.name
    raw.select(col("key.event_type").as("event_type"),
        col("value").getField(bufField).cast("long").as("cnt"))
      .orderBy("event_type")
  }

  /** Watermarked tumbling 1-hour window aggregation over the event stream.
    * Complete output here (finite source, oracle-checkable); the
    * append-mode bounded-state variant is exercised in the test suite. */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_val"))
    runToMemory(spark, agg)
      .select(col("window.start").as("hr"), col("event_type"), col("cnt"), col("sum_val"))
      .orderBy("hr", "event_type")
  }

  /** Online volume-anomaly monitor — the streaming dual of the batch
    * `ev_anomaly` (same oracle, duality by construction): the
    * watermarked hourly counts accumulate in complete mode; the z-score
    * pass runs over the MATERIALIZED hourly frame (|hours| rows — the
    * same tiny window the batch query scores), with the identical
    * exact-integer variance spelling, so the alert boundary cannot fork
    * between the online and offline paths. */
  def streamAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"))
    val hourly = runToMemory(spark, agg)
      .select(col("window.start").as("hr"), col("n_events"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val n = count(lit(1)).over(w)
    val s = sum("n_events").over(w)
    val s2 = sum(col("n_events") * col("n_events")).over(w)
    val z = when(n > 1 && (n * s2 - s * s) > 0, round(
      (col("n_events") * n - s).cast("double") /
        (n.cast("double") *
          sqrt((n * s2 - s * s).cast("double") / (n * (n - lit(1))).cast("double"))),
      4))
    hourly
      .withColumn("z", z)
      .withColumn("is_anomaly", abs(col("z")) > 2.0)
      .orderBy("hr")
  }

  /** Streaming data-quality gate — the ingest admission monitor (the
    * streaming dual of `rel_dq_audit`'s warehouse sweep): structural
    * violation counters accumulate over the event stream in complete
    * mode, so at any trigger the sink holds the cumulative quality
    * ledger an ops dashboard reads before admitting the partition
    * downstream. Checks are per-row column predicates (null key,
    * non-positive measure, unparseable/missing JSON prop), so the
    * streaming aggregate carries FOUR counters of state total — at
    * 100 TB/day the gate's state is still four longs. Shares arithmetic
    * with the batch oracle over the same fixture: the online and
    * offline quality ledgers cannot fork. */
  def streamDqGate(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("n_null_user"),
      sum(when(col("value") <= 0, 1L).otherwise(0L)).as("n_nonpositive_value"),
      // string-path extraction + try_cast, NOT try_variant_get: the
      // variant route casts a JSON double/bool k (7.5, true) to bigint
      // where the oracle's TRY_CAST('7.5' AS BIGINT) nulls — the
      // string route nulls on BOTH engines for every non-integer k
      sum(when(expr(
        "try_cast(get_json_object(props, '$.k') AS bigint)").isNull,
        1L).otherwise(0L)).as("n_props_no_k"))
    runToMemory(spark, agg)
  }

  /** Streaming bucketed percentiles — the Prometheus-histogram shape of
    * online latency monitoring: the stream folds into a per-(type,
    * integer-bucket) histogram in complete mode (state = |types|·
    * |buckets| counters, BOUNDED regardless of volume — the whole point
    * of histogram-bucketed percentiles over exact values), and
    * p50/p90/p99 read off the cumulative histogram through
    * [[graft.functions.ExactPercentiles]] — the SAME read-off object
    * the batch `rel_percentiles_grouped` calls, so online and offline
    * percentile reports cannot fork structurally. The rank scan runs
    * over the MATERIALIZED histogram (the tiny sink frame), never the
    * stream. */
  def streamLatencyPctl(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .groupBy(col("event_type"), floor(col("value")).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    graft.functions.ExactPercentiles.readoff(
      runToMemory(spark, agg), "event_type", "bucket")
  }

  /** File-sink sibling of [[hourlyCounts]] — the SAME watermarked hourly
    * aggregate landed through [[runToFiles]]' foreachBatch-to-parquet
    * overwrite instead of the driver-capped memory sink, across ≥3
    * micro-batches (maxFilesPerTrigger=1 over the 3-way time-split feed)
    * so the complete-mode re-emission provably overwrote per trigger.
    * This is the route whose result size is unbounded-safe: every batch's
    * full state lands as a distributed parquet write, the readback is an
    * ordinary scan, and no row ever transits the driver — the sink a
    * 100 TB deployment would actually use. Shares hourlyCounts' oracle:
    * the sink route must not change the result. */
  def hourlyCountsFiles(spark: SparkSession, dir: String): DataFrame = {
    val agg = timeSplitStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_val"))
    runToFiles(spark, agg, minDataBatches = 3)
      .select(col("window.start").as("hr"), col("event_type"), col("cnt"), col("sum_val"))
      .orderBy("hr", "event_type")
  }

  /** Kill-and-restart exactly-once recovery, oracle-gated at fixture
    * scale (the mechanism itself is spec-proven on a crafted feed in
    * StreamingStateSpec "a restarted query resumes from its checkpoint
    * exactly-once"; this registers the production property under the
    * cross-engine hash). The watermarked hourly aggregate runs over the
    * first time-slice of the feed with a DURABLE checkpoint, is STOPPED,
    * and the remaining slices land while the query is down; the restarted
    * query recovers offsets + aggregation state from the checkpoint,
    * ingests ONLY the unseen slices — `require`d exactly: run-2 input
    * rows + run-1 input rows == the batch table count, so any replay or
    * loss fails the query, not just a spec — and its final complete-mode
    * emission must equal the batch aggregate over the whole table. This
    * is the property a 1000-executor deployment leans on at every driver
    * restart / code redeploy: state outlives the process. Stage,
    * checkpoint, and sink dirs are fresh per invocation so the
    * kill/restart drama replays every run (nothing rides the feed
    * cache except the slice files themselves). */
  def restartRecovery(spark: SparkSession, dir: String): DataFrame = {
    val feed = timeSplitFeed(spark, dir, n = 3)
    val slices = new java.io.File(feed).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val stage = graft.TempDirs.create("graft-feed-restart")
    val ckpt = graft.TempDirs.create("graft-ckpt-restart").toString
    val out = graft.TempDirs.create("graft-sink-restart").toString
    def admit(f: java.io.File): Unit = {
      val dst = stage.resolve(f.getName)
      Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(f.lastModified)
    }
    val schema = eventsSchema(spark, dir)
    def runOnce(): Long = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage.toString)
      val agg = Tables.normalizeEvents(stream)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_val"))
      drain(spark, agg.writeStream.outputMode("complete")
          .foreachBatch { (batch: Dataset[Row], _: Long) =>
            batch.write.mode("overwrite").parquet(out)
          }
          .option("checkpointLocation", ckpt),
        stateConfs(StreamShufflePartitions), 0, "restart recovery").inputRows
    }
    admit(slices.head)
    val in1 = runOnce() // sees only slice 0, then is stopped
    slices.tail.foreach(admit) // data lands while the query is DOWN
    val in2 = runOnce() // SAME checkpoint: must resume, not replay
    val total = spark.read.parquet(s"$dir/events.parquet").count()
    require(in1 > 0 && in2 > 0 && in1 + in2 == total,
      s"exactly-once recovery violated: run1=$in1 + run2=$in2 != $total " +
        "batch rows (replayed or lost input across the restart)")
    spark.read.parquet(out)
      .select(col("window.start").as("hr"), col("event_type"), col("cnt"), col("sum_val"))
      .orderBy("hr", "event_type")
  }

  /** Streaming MERGE sink (SCD1 apply per trigger) — the most common
    * production streaming sink shape: each micro-batch is UPSERTED into a
    * keyed table instead of appended or blindly overwritten. Per trigger,
    * foreachBatch reduces the batch to its latest row per user_id (rank
    * pushdown, batch-sized), reads the current target state, and applies
    * the `rel_merge_upsert` classification — key on both sides → the row
    * with the GREATER (ts, event_id) wins (a conditional update, so the
    * apply is CDC-correct and order-independent, not latest-batch-wins);
    * batch-only → insert; target-only → keep. The merged state lands
    * through `IndexStore.commit` (round 13): an immutable version
    * directory published by atomic symlink swap under the per-name lock
    * — a job never overwrites the files it is lazily reading, and a
    * concurrent reader (this JVM or another process, via
    * `IndexStore.readCurrent` of the sf-scoped target name) always sees one complete
    * version. That is exactly the copy-on-write + snapshot-commit
    * protocol Delta/Iceberg implement with a transaction log; at 100 TB
    * this foreachBatch body becomes `MERGE INTO target USING batch`
    * against such a table format and the plan inside is unchanged (the
    * target side additionally prunes to touched partitions). The chain
    * pointer stays run-local (each run starts from an EMPTY target — a
    * cross-run pointer would leak another scale factor's users into the
    * oracle comparison), but every version is externally published.
    * State is
    * keyed-dimension-sized (|users|), never |events|; no row transits the
    * driver. Final state must equal the batch argmax per user over the
    * whole table — the cross-engine oracle. */
  def mergeUpsertStream(spark: SparkSession, dir: String): DataFrame =
    mergedFinalState(spark, dir, "merge_target_").orderBy("user_id")

  /** Tombstone type of the CDC-delete stream: an 'error' event is the
    * user's deletion record. A real CDC feed carries an explicit op
    * column; the fixture type stands in so the oracle re-derives it. */
  val CdcTombstoneType = "error"

  /** CDC DELETE through the merge sink (round 15 superset — completes
    * the upsert sink to full CRUD): [[CdcTombstoneType]] events are
    * tombstones — a user whose NEWEST event (by ts, event_id) is a
    * tombstone is absent from the served view. The state keeps the
    * per-user argmax row INCLUDING tombstones and only the READ VIEW
    * filters them: physically deleting the key on tombstone arrival
    * would let an older, late-replayed upsert RESURRECT it (the classic
    * CDC resurrection bug — the strictly-newer guard needs the
    * tombstone's ordering info to stay in state; at-least-once
    * foreachBatch replays make this a real arrival order, not a
    * theoretical one). StreamingDualitySpec pins the resurrection
    * guard; at compaction time a production target drops tombstones
    * older than the replay horizon — the same supersession-grace idea
    * the snapshot GC runs. Oracle: the batch argmax per user minus
    * tombstoned users. */
  def cdcDeleteStream(spark: SparkSession, dir: String): DataFrame =
    mergedFinalState(spark, dir, "cdc_target_")
      .filter(col("last_type") =!= CdcTombstoneType)
      .orderBy("user_id")

  private def mergedFinalState(spark: SparkSession, dir: String,
      targetPrefix: String): DataFrame = {
    val events = timeSplitStream(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        col("ts"), col("event_id"))
    // run-local version pointer (fresh target per run); the PUBLICATION
    // of each version is IndexStore.commit's atomic symlink protocol.
    // foreachBatch bodies run serially on the driver. The name is
    // SF-SCOPED (ADVICE r13): two driver processes at different scale
    // factors (bench + verify) must not interleave the published link
    // a cross-process readCurrent would resolve; the commit grace is
    // short because this name takes one commit PER MICRO-BATCH — the
    // default 10-minute grace would pile up a full target copy per
    // trigger per run on disk (the previous version is still always
    // kept, so the swap-safety guarantee is unchanged)
    val target = targetPrefix + dir.replaceAll("[^A-Za-z0-9.]", "_")
    var current: Option[java.nio.file.Path] = None
    var nextV = 0L
    val batchPlan = new AtomicReference("")
    drain(spark, events.writeStream.outputMode("append")
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          val s = batch.sparkSession
          val latest = latestPerKey(batch.toDF())
          // the persisted target carries the output names (last_*); map it
          // back to the event shape the merge classifier joins on
          val cur = current match {
            case Some(d) => targetAsEvents(s.read.parquet(d.toString))
            case None => s.createDataFrame(new java.util.ArrayList[Row](), latest.schema)
          }
          val merged = mergeClassify(cur, latest)
          // ledger visibility (ADVICE r14 #3): the merge's plan shape —
          // rank-pushdown Window + target⋈batch full-outer join — exists
          // only in these foreachBatch jobs, never in the micro-batch plan
          recordPlan(batchPlan, merged)
          current = Some(graft.similarity.IndexStore
            .commit(target, s"batch-$nextV", graceMs = 60000L)(merged))
          nextV += 1
        }
        .options(ckptOption),
      stateConfs(StreamShufflePartitions), 3, "streaming merge",
      batchPlan = batchPlan)
    spark.read.parquet(current.getOrElse(
      throw new IllegalStateException("streaming merge produced no target version"))
      .toString)
  }

  /** Batch-side rank pushdown of the MERGE source: the newest row per
    * user_id by (ts, event_id) — batch-sized, never target-sized. */
  private[graft] def latestPerKey(batch: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
    batch.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
  }

  /** Persisted-target (last_*) shape → the event shape the classifier
    * joins on. */
  private[graft] def targetAsEvents(df: DataFrame): DataFrame =
    df.select(col("user_id"), col("last_type").as("event_type"),
      col("last_value").as("value"), col("last_ts").as("ts"),
      col("last_event_id").as("event_id"))

  /** One MERGE application (the foreachBatch body's core, extracted for
    * the chaos/idempotence specs): upsert event-shaped `latest` rows into
    * event-shaped `cur`, the batch row winning only when the key is new
    * OR its (ts, event_id) is STRICTLY newer. Because the comparison is
    * strict, the apply is
    *  - IDEMPOTENT under re-delivery: foreachBatch is at-least-once (a
    *    crash between the sink's commit and the checkpoint's means the
    *    same batch id replays), and re-applying a batch to a target that
    *    already absorbed it changes nothing — strictly-newer can never
    *    fire twice for the same row;
    *  - ORDER-INSENSITIVE across batches: CDC events arriving shuffled
    *    converge to the same final state (the per-key argmax).
    * Both properties are pinned in ChaosSpec. */
  private[graft] def mergeClassify(cur: DataFrame, latest: DataFrame): DataFrame = {
    val t = cur.select(cur.columns.map(c => col(c).as("t_" + c)).toSeq: _*)
    val b = latest.select(latest.columns.map(c => col(c).as("b_" + c)).toSeq: _*)
    val takeB = col("t_user_id").isNull ||
      (struct(col("b_ts"), col("b_event_id")) >
        struct(col("t_ts"), col("t_event_id")))
    t.join(b, col("t_user_id") === col("b_user_id"), "full_outer")
      .select(
        coalesce(col("b_user_id"), col("t_user_id")).as("user_id"),
        when(takeB, col("b_event_type")).otherwise(col("t_event_type")).as("last_type"),
        when(takeB, col("b_value")).otherwise(col("t_value")).as("last_value"),
        when(takeB, col("b_ts")).otherwise(col("t_ts")).as("last_ts"),
        when(takeB, col("b_event_id")).otherwise(col("t_event_id")).as("last_event_id"))
  }

  /** Cache of prepared multi-file feed directories, keyed by source dir —
    * Verify and Bench call each query several times per session; the
    * split is deterministic AND the driver's fixture parquet is immutable
    * for the life of a session (same contract [[schemaCache]] leans on),
    * so one prep per (dir, n) is sound with no invalidation. */
  private val feedDirs = TrieMap.empty[String, String]

  /** Events-table schema per source dir. Every streaming query bootstraps
    * its stream schema from the static file (reference S3); the footer
    * read is a driver-side file-listing + parse that costs ~0.1–0.3 s —
    * a pure fixed cost per query that the family pays 10× per bench run
    * without this cache. The fixture file is immutable per dir. */
  private val schemaCache = TrieMap.empty[String, org.apache.spark.sql.types.StructType]

  private def eventsSchema(spark: SparkSession, dir: String): org.apache.spark.sql.types.StructType =
    schemaCache.getOrElseUpdate(dir,
      spark.read.parquet(s"$dir/events.parquet").schema)

  /** ONE slice-to-feed discipline for every feed builder (round 16,
    * ADVICE r15 — the fourth copy was drifting): range-partition the
    * source file by `keyCol` in one shuffle job (part-0000i IS the i-th
    * key slice), land each part under a strictly increasing modification
    * time so the file-stream source (oldest-first under
    * maxFilesPerTrigger) replays the slices in key order — the rotation
    * discipline of reference S4 applied to a parquet feed. Memoized per
    * cache key ([[feedDirs]]). */
  private def splitFeed(spark: SparkSession, cacheKey: String,
      prefix: String, sourceFile: String, keyCol: String, n: Int): String =
    feedDirs.getOrElseUpdate(cacheKey, {
      val raw = spark.read.parquet(sourceFile)
      val feed = graft.TempDirs.create(prefix)
      val tmp = feed.resolve(".tmp")
      raw.repartitionByRange(n, col(keyCol)).write.parquet(tmp.toString)
      val parts = tmp.toFile.listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      parts.zipWithIndex.foreach { case (part, i) =>
        val dst = feed.resolve(f"b$i%04d.parquet")
        Files.move(part.toPath, dst, StandardCopyOption.ATOMIC_MOVE)
        dst.toFile.setLastModified(1700000000000L + i * 60000L)
      }
      tmp.toFile.listFiles().foreach(_.delete()); tmp.toFile.delete()
      feed.toString
    })

  /** Splits the events table into `n` files covering disjoint, ascending
    * time ranges — time-ordered arrival matters: rows landing behind the
    * watermark would be dropped as late and diverge from the oracle
    * (emission depends only on the global max event time, and ordered
    * arrival guarantees no late drops). */
  private def timeSplitFeed(spark: SparkSession, dir: String, n: Int): String =
    splitFeed(spark, s"$dir#$n", "graft-feed",
      s"$dir/events.parquet", "ts", n)

  /** The 3-slice [[timeSplitFeed]] as a normalized event stream, one
    * slice per trigger — the multi-trigger contract's minimum (every extra
    * trigger is pure state-machinery cost). */
  private def timeSplitStream(spark: SparkSession, dir: String): DataFrame =
    Tables.normalizeEvents(spark.readStream.schema(eventsSchema(spark, dir))
      .option("maxFilesPerTrigger", "1").parquet(timeSplitFeed(spark, dir, n = 3)))

  /** [[timeSplitFeed]] for the EMBEDDINGS table (round 15): slices by
    * vec_id range into `n` feed files — the arrival shape of an online
    * vector-search query stream. */
  private def embSplitFeed(spark: SparkSession, dir: String, n: Int): String =
    splitFeed(spark, s"$dir#emb$n", "graft-feed-emb",
      s"$dir/embeddings.parquet", "vec_id", n)

  /** [[timeSplitFeed]] for the DOCUMENTS table (round 15): slices by
    * doc_id range into `n` feed files, so the curation stream drains the
    * corpus over `n` triggers — the online-ingest arrival shape. */
  private def docsSplitFeed(spark: SparkSession, dir: String, n: Int): String =
    splitFeed(spark, s"$dir#docs$n", "graft-feed-docs",
      s"$dir/documents.parquet", "doc_id", n)

  /** ARRIVAL-order sibling of [[timeSplitFeed]]: slices by event_id range
    * instead of event time, so the stream replays the batch table's
    * arrival order (event_id) across triggers — what a lateness monitor
    * must see, since lateness IS the disorder of event time relative to
    * arrival order (a time-split feed would deliver perfectly ordered
    * time and measure zero). Per-user id order survives the slicing
    * because the slices are global id ranges. */
  private def idSplitFeed(spark: SparkSession, dir: String, n: Int): String =
    splitFeed(spark, s"$dir#id$n", "graft-feed-id",
      s"$dir/events.parquet", "event_id", n)

  /** Streaming watermark-delay monitor — the online dual of the batch
    * `ev_lateness` profile (same oracle, duality by construction): each
    * user's event-time high-water mark is CARRIED as keyed state across
    * triggers, each arriving event emits its minutes-behind-hwm bucket,
    * and the complete-mode count materializes the same histogram a
    * deployment would alert on. State is one long per user — bounded by
    * the key space, not the stream. Runs over the id-split feed because
    * lateness is meaningless unless the stream arrives in arrival
    * order. */
  def streamLateness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val feed = idSplitFeed(spark, dir, n = 3)
    val schema = eventsSchema(spark, dir)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed)
    val lateMin = Tables.normalizeEvents(stream)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, Long](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state) =>
          // arrival order = event_id, exactly the batch window's order
          val sorted = rows.toSeq.sortBy(_._2)
          var hwm = state.getOption.getOrElse(Long.MinValue)
          val out = sorted.map { r =>
            if (r._3 > hwm) hwm = r._3
            math.min((hwm - r._3) / 60000000L,
              graft.queries.EventQueries.LatenessCapMin)
          }
          state.update(hwm)
          out.iterator
      }
    runToMemory(spark, lateMin.toDF("late_min"),
        mode = "append", minDataBatches = 3)
      .groupBy("late_min").agg(count(lit(1)).as("cnt"))
      .orderBy("late_min")
  }

  /** Append-mode watermarked hourly aggregation, executed across ≥3
    * micro-batches (maxFilesPerTrigger=1 over a 3-way time-split feed, so
    * window state provably carries between triggers — reference S2/S6
    * multi-batch semantics; 3 slices is the minimum satisfying the
    * contract, and every extra trigger is pure state-machinery cost —
    * the emitted set depends only on the final watermark, not the
    * slicing). A window row is emitted exactly once, when
    * the watermark (ms-floored max event time − 10 min) reaches its end;
    * the trailing windows never close and are absent — the oracle applies
    * the same cutoff. Unlike the complete-mode variant, state here is
    * BOUNDED: closed windows are evicted, so state size tracks the
    * watermark lag, not the stream length. */
  def hourlyAppend(spark: SparkSession, dir: String): DataFrame = {
    val agg = timeSplitStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_val"))
    runToMemory(spark, agg, mode = "append", minDataBatches = 3)
      .select(col("window.start").as("hr"), col("event_type"), col("cnt"), col("sum_val"))
      .orderBy("hr", "event_type")
  }

  /** [[hourlyAppend]] under `Trigger.AvailableNow` (round 16, VERDICT
    * r15 #1) — the production BACKFILL/CATCH-UP run-mode: the feed is
    * fully pre-populated before the query starts (the backlog), the
    * trigger snapshots the source's available offsets at start, drains
    * exactly that backlog under the source's own admission limits
    * (maxFilesPerTrigger=1 ⇒ one slice per micro-batch, ≥3 data
    * batches), runs the trailing watermark-advance batch that emits the
    * closed windows, and then TERMINATES ITSELF — no processAllAvailable
    * loop, no external stop. This is how a 100 TB deployment schedules
    * a bounded catch-up run (cron-style: start, drain, exit) instead of
    * keeping an always-on cluster; it exercises the offset-snapshot
    * admission path the default trigger never touches. The oracle is
    * IDENTICAL to `stream_hourly_append`: the run-mode must not change
    * a single emitted window. Self-termination and the multi-batch
    * drain are pinned in StreamingStateSpec. */
  def hourlyAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val agg = timeSplitStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_val"))
    runToMemory(spark, agg, mode = "append", minDataBatches = 3,
        availableNow = true)
      .select(col("window.start").as("hr"), col("event_type"), col("cnt"), col("sum_val"))
      .orderBy("hr", "event_type")
  }

  /** Per-user session summary via arbitrary stateful processing
    * (KeyValueGroupedDataset.mapGroupsWithState) — the custom-state
    * primitive the training-pipeline brief calls for. State = running
    * (count, first_ts, last_ts) per user, re-emitted each micro-batch in
    * update mode. On the finite fixture source every file arrives in one
    * batch, so the final table is the batch aggregate (the oracle);
    * multi-batch state carry-over is asserted in the test suite. */
  def sessionSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sessions = eventStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), SessionRow](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        case (user, rows, state) =>
          val (c0, lo0, hi0) =
            if (state.exists) state.get else (0L, Long.MaxValue, Long.MinValue)
          var c = c0; var lo = lo0; var hi = hi0
          rows.foreach { case (_, t) =>
            c += 1
            if (t < lo) lo = t
            if (t > hi) hi = t
          }
          state.update((c, lo, hi))
          SessionRow(user, c, lo, hi)
      }
    runToMemory(spark, sessions.toDF(), mode = "update")
      .groupBy("user_id")   // last update per key wins (single batch: identity)
      .agg(max("n_events").as("n_events"),
        min("first_us").as("first_us"), max("last_us").as("last_us"))
      .orderBy("user_id")
  }

  /** Gap of the [[GapSessionProcessor]] sessions (µs): 12 hours against
    * the fixture's ~7.7 h median per-user inter-event gap, so most users
    * split into several sessions AND most sessions close inline — both
    * paths of the processor carry registered weight. */
  private val TwsGapUs = 12L * 3600L * 1000000L

  /** Event-time gap sessions via `transformWithState` + LIST state +
    * event-time TIMERS (round 14 — the half of the Spark 4 arbitrary-
    * state API [[twsSummary]] doesn't touch): sessions split by >12 h
    * gaps; a session closes inline when its successor arrives, or by
    * its registered timer when the terminal watermark (delay 0 ⇒ max
    * event time) passes its end + gap — so each user's final session
    * emits iff the data itself proves it over. The oracle sessionizes
    * the batch table with the identical gap rule and the identical
    * terminal-watermark emission filter (millisecond-CEILED, matching
    * the timer's ceil-registered unit — a floored timer could fire a µs
    * early in its boundary ms). Multi-trigger contract: ≥3 data batches, so
    * ListState provably carries across triggers and timers fire
    * mid-stream, not just at the end. */
  def twsTimerSessions(spark: SparkSession, dir: String): DataFrame =
    twsTimerSessionsImpl(spark, dir, changelog = false)

  /** [[twsTimerSessions]] under RocksDB CHANGELOG checkpointing (round
    * 15, VERDICT r14 #4): the same list-state + event-time-timer
    * sessionization with
    * `stateStore.rocksdb.changelogCheckpointing.enabled=true`, so each
    * trigger commits the state DELTA instead of uploading full SST
    * snapshots — at 100 TB state the difference between shipping the
    * store and shipping what changed. The oracle is IDENTICAL to
    * `stream_tws_timers`: the checkpoint format must never change the
    * emissions. StreamingStateSpec additionally proves the checkpoint
    * dir carries `.changelog` files and that a restart recovers from
    * them. */
  def twsTimerChangelog(spark: SparkSession, dir: String): DataFrame =
    twsTimerSessionsImpl(spark, dir, changelog = true)

  /** Modulus of the streaming serve's query set: `vec_id % 100 == 7`
    * spreads queries across the id-range feed, so EVERY trigger carries
    * retrieval work (5 queries at the 500-vector SFs, 20 at sf0.1). */
  private val AnnServeQueryMod = 100L

  /** STREAMING ANN SERVE (round 15 superset) — the online face of the
    * build/serve split: queries ARRIVE as a stream, and each trigger's
    * batch is answered against the static IVF index through
    * `foreachBatch` — join the batch's vec_ids to the precomputed
    * (vec_id, cell) assignment, probe only the matching cells
    * (`cell === qcell` equi-join, query side broadcast — candidate cost
    * is |cell| per query, never the corpus), rank through the bounded-heap
    * [[graft.plans.TopKPerGroup]], append the trigger's results. This is
    * what a vector-search service DOES per request batch; the corpus ⋈
    * assignment serving state is RESOLVED FROM THE PUBLISHED INDEX
    * ARTIFACT (round 16, VERDICT r15 #4 —
    * [[graft.similarity.Similarity.cellsServed]], the IndexStore
    * snapshot-pointer path the build/serve split exists for) and cached
    * across triggers: a serve restart pays a pointer resolve + scan,
    * never a quantizer recomputation (rebuilding the index per serve
    * run was the classic serving bug this round removes). The
    * registered result is all triggers' rankings; the oracle is the
    * SAME parameterized IVF SQL as the batch `sim_ivf_topk`, over this
    * query set — streaming arrival must not change a single ranking
    * (the published artifact's content is byte-identical to the inline
    * recompute, so the oracle is unchanged). The retrieval plan reaches
    * the ledger via the run's `batchPlan`; the pure-scan shape of
    * the resolved index is pinned in StreamingDualitySpec. */
  def streamAnnServe(spark: SparkSession, dir: String): DataFrame = {
    val feed = embSplitFeed(spark, dir, n = 3)
    val schema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    // the serving state: corpus joined to the PUBLISHED (vec_id, cell)
    // artifact, loaded once, cached across triggers (bounded: |corpus|
    // rows of id+vector+cell)
    val corpus = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .join(graft.similarity.Similarity.cellsServed(spark, dir), Seq("vec_id"))
      .persist()
    try {
      corpus.count() // materialize the index before the stream starts
      val queries = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
        .filter(col("vec_id") % AnnServeQueryMod === 7)
        .select(col("vec_id"))
      runForeachBatchToDirs(spark, queries, "graft-ann-serve",
          minDataBatches = 3, what = "streaming serve") { batch =>
        val qside = corpus.join(batch, Seq("vec_id"))
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            col("cell").as("qcell"))
        val scored = corpus.join(broadcast(qside), col("cell") === col("qcell"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            round(graft.functions.VectorOps.cosine("embedding", "qe"), 4).as("cos_r"))
        graft.plans.TopK.perGroup(scored, Seq("qid"),
          Seq(("cos_r", false), ("vec_id", true)), 3)
      }.orderBy("qid", "rn")
    } finally corpus.unpersist()
  }

  /** Streaming CURATION FUNNEL (round 15, VERDICT r14 #7) — the online
    * dual of the batch `pipeline_curation` funnel's streaming-expressible
    * stages, the ingest shape an LLM data pipeline actually runs while
    * data arrives: per-row QUALITY GATE (the stateless scalar mirror of
    * the batch tokens()+groupBy gate — same thresholds, single-sourced
    * from [[graft.text.TextAnalysis]]), then EXACT DEDUP of the
    * gate-passing texts via `dropDuplicatesWithinWatermark` on the
    * content hash (delay past the feed span ⇒ exact global distinct, the
    * `stream_dedup_wm` discipline; at 100 TB the delay is the dedup
    * horizon that BOUNDS the state), with each trigger's newly-admitted
    * survivors appended through `foreachBatch` — the per-trigger
    * retention ledger. A parallel complete-mode census over the same
    * feed carries the raw/quality stage counts that live upstream of the
    * dedup operator. The registered result is the funnel's cumulative
    * stage rows; the ORACLE is the batch funnel's own CTEs
    * (qualityPassSql + the distinct-md5 count), so batch/stream duality
    * is by construction — fuzzy dedup (an LSH self-join) and the split
    * stage stay batch-side, exactly the stages a production funnel also
    * defers to its periodic batch compaction. Multi-trigger contract:
    * the corpus drains over ≥3 data batches on both streams. */
  def streamCuration(spark: SparkSession, dir: String): DataFrame = {
    // The census stream and the survivor stream are INDEPENDENT queries
    // over the same (pre-built) feed, so they run CONCURRENTLY (r18
    // optimization, guide §2.6 — overlap independent jobs): the census
    // drains on a helper thread while the survivor ledger drains on this
    // one, halving the serial trigger/drain latency the old sequential
    // spelling paid. Results are unchanged — each query's own drain
    // protocol (processAllAvailable + multi-trigger proof) is untouched.
    // The feed dir is built HERE, before the fork, so the cached
    // build is never raced. Each drain's run record is per thread, so the
    // census run on the helper thread leaves this thread's record — the
    // survivor (stateful dedup) plan the ledger digests — alone.
    val censusStream = curationGate(curationDocsStream(spark, dir)).groupBy()
      .agg(count(lit(1)).as("n_raw"), sum("quality").as("n_quality"))
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val (counts, survivors) =
      try {
        val countsF = pool.submit(new java.util.concurrent.Callable[DataFrame] {
          override def call(): DataFrame = runToMemory(spark, censusStream,
            mode = "complete", minDataBatches = 3)
        })
        // stage 2: bounded-state exact dedup of the gate-passing texts;
        // per-trigger survivors land as append batch dirs (retention ledger)
        val s = curationSurvivors(spark, dir)
        (countsF.get(), s)
      } finally pool.shutdown()
    counts.select(lit(0).as("stage_no"), lit("raw").as("stage"),
        col("n_raw").cast("long").as("n_docs"))
      .unionAll(counts.select(lit(1).as("stage_no"), lit("quality").as("stage"),
        col("n_quality").cast("long").as("n_docs")))
      .unionAll(survivors.agg(count(lit(1)).as("n")).select(
        lit(2).as("stage_no"), lit("exact_dedup").as("stage"),
        col("n").cast("long").as("n_docs")))
      .orderBy("stage_no")
  }

  /** [[streamCuration]] collapsed to a SINGLE stream via the streaming
    * face of `Dataset.observe` (round 16, VERDICT r15 #7): the census
    * stream disappears — a named observe node on the gated frame (before
    * the quality filter) counts raw and gate-passing rows AS THEY FLOW
    * INTO the dedup state operator, reported per micro-batch through
    * `StreamingQueryProgress.observedMetrics` and summed across the
    * drain (the run's `observedSums`). Stage 2 is the landed survivor ledger,
    * as before. Same three-row funnel, same oracle — but the feed is
    * read ONCE instead of twice, which at 100 TB is the difference
    * between one ingest scan and two. Streaming-vs-batch caveat is the
    * foreachBatch one: observed sums are at-least-once under crash
    * replay; the clean multi-trigger drain this query certifies makes
    * them exact. The survivor pipeline itself is [[curationSurvivors]]
    * verbatim (shared via its `tap` hook — one source of truth for the
    * ledger compactionHandoff consumes); StreamingDualitySpec pins the
    * three-row funnel against the batch funnel and the drained metric
    * sums against the batch gate counts (a sum that covers the whole
    * corpus proves every micro-batch's observe row reported). */
  def streamCurationObserved(spark: SparkSession, dir: String): DataFrame = {
    val landed = curationSurvivors(spark, dir,
      tap = _.observe("curation_gate",
        count(lit(1)).as("n_raw"), sum(col("quality")).as("n_quality")))
    // fail LOUDLY if the metrics the stage rows derive from are missing
    // or possibly truncated — a fabricated zero funnel must never ride a
    // noop-sink bench run as a "successful" result
    val run = lastRun
    if (!run.complete) throw new IllegalStateException(
      "recentProgress may have evicted early batches; observed sums untrusted")
    val gate = run.observedSums.getOrElse("curation_gate",
      throw new IllegalStateException(
        s"observe node 'curation_gate' reported no metrics: " +
          s"${run.observedSums.keySet}"))
    def metric(k: String): Long = gate.getOrElse(k,
      throw new IllegalStateException(s"observed metric '$k' absent: $gate"))
    import spark.implicits._
    Seq((0, "raw", metric("n_raw")), (1, "quality", metric("n_quality")))
      .toDF("stage_no", "stage", "n_docs")
      .unionAll(landed.agg(count(lit(1)).as("n")).select(
        lit(2).as("stage_no"), lit("exact_dedup").as("stage"),
        col("n").cast("long").as("n_docs")))
      .orderBy("stage_no")
  }

  /** The documents corpus as the 3-slice curation feed stream. */
  private def curationDocsStream(spark: SparkSession, dir: String): DataFrame = {
    val feed = docsSplitFeed(spark, dir, n = 3)
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
  }

  /** The per-row quality gate — the stateless scalar mirror of the batch
    * tokens()+groupBy gate, thresholds single-sourced from
    * [[graft.text.TextAnalysis]]. Shared by [[streamCuration]]'s census
    * and [[curationSurvivors]]' admission filter. */
  private def curationGate(df: DataFrame): DataFrame = {
    import graft.text.TextAnalysis.{QualityMinTokens, QualityMaxTokens, QualityStops}
    val stopsList = QualityStops.map(s => s"'$s'").mkString(", ")
    df.withColumn("toks", expr("filter(split(text, ' '), x -> x <> '')"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_cnt",
        expr(s"size(filter(toks, x -> x IN ($stopsList)))"))
      // stop_cnt/n_tokens < 0.5 in exact integer form (2*stop < n)
      .withColumn("quality",
        when(col("n_tokens").between(QualityMinTokens, QualityMaxTokens) &&
          col("stop_cnt") * 2 < col("n_tokens"), 1L).otherwise(0L))
  }

  /** The landed survivor-ledger DIRECTORY per sf dir (a path, like
    * [[feedDirs]] — never a session-bound DataFrame) —
    * [[curationSurvivors]] refreshes it on every streaming run;
    * [[compactionHandoff]] consumes it so the compaction reads the
    * artifact the online half actually landed this session instead of
    * re-running the stream. */
  private val survivorLedgers = TrieMap.empty[String, String]

  /** The streaming quality→exact-dedup survivor ledger (stage 2 of
    * [[streamCuration]]): gate-passing texts content-hashed, deduped
    * within the watermark horizon, each trigger's newly-admitted hashes
    * appended as a batch dir. ALWAYS runs the stream (it IS the online
    * half), then records the landed scan in [[survivorLedgers]]. */
  private def curationSurvivors(spark: SparkSession, dir: String,
      tap: DataFrame => DataFrame = identity): DataFrame = {
    val out = graft.TempDirs.create("graft-sink").toString
    val landed = runToFiles(spark,
      tap(curationGate(curationDocsStream(spark, dir)))
        .filter(col("quality") === 1L)
        .select(md5(col("text")).as("h"))
        .withColumn("ingest_ts", lit("2024-01-01 00:00:00").cast("timestamp"))
        .withWatermark("ingest_ts", "365 days")
        .dropDuplicatesWithinWatermark("h")
        .select("h"),
      mode = "append", minDataBatches = 3, outDir = Some(out))
    survivorLedgers(dir) = out
    landed
  }

  /** This session's landed ledger for `dir`, running the online half
    * only when no USABLE landing exists yet (the recorded dir may have
    * been cleaned) — the handoff's read side. */
  private def curationSurvivorsLedger(spark: SparkSession, dir: String): DataFrame =
    survivorLedgers.get(dir).filter { out =>
      val walk = Files.walk(java.nio.file.Paths.get(out))
      try walk.anyMatch(p => p.toString.endsWith(".parquet"))
      catch { case scala.util.control.NonFatal(_) => false }
      finally walk.close()
    }.map(readBatchDirs(spark, _))
      .getOrElse(curationSurvivors(spark, dir))

  /** STREAM→BATCH COMPACTION HANDOFF (round 16, VERDICT r15 #8 — the
    * composition `stream_curation` defers): the production ingest loop
    * end to end. The ONLINE half ([[curationSurvivors]]) lands the
    * quality-gated, exactly-deduped survivor hashes as the per-trigger
    * retention ledger; the PERIODIC BATCH COMPACTION then (1) re-reads
    * the landed survivors as an ordinary batch scan — the ledger a
    * stream_curation run already landed this session when there is one
    * ([[curationSurvivorsLedger]]), running the online half itself only
    * when none has — (2) maps each
    * content hash back to its canonical document (min doc_id per digest
    * — the batch funnel's own keep rule; quality is a pure function of
    * text, so the hash-join recovers exactly the funnel's s2 frame),
    * (3) applies the FUZZY stage the stream could not — the
    * MinHash-LSH candidate drop ([[graft.dedup.Dedup.minhashLsh]], the
    * registered batch operator, banded + bucket-capped) — and (4)
    * PUBLISHES the merged retention ledger as a snapshot version
    * through `IndexStore.commit`, so downstream training jobs resolve
    * one immutable ledger version. The registered result is the
    * published ledger's doc_ids; the ORACLE is the batch funnel's own
    * CTE chain through its LSH stage (`pipeline_curation` s3) — the
    * online/offline composition must land exactly the batch funnel's
    * fuzzy-dedup survivor set, row for row. */
  def compactionHandoff(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.IndexStore
    val name = "curation_ledger_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    // ledger path: with a published version, digest the pure scan (the
    // streaming drama is stream_curation's and the gate's business)
    if (IndexStore.nonPublishingActive && IndexStore.currentVersion(name).isDefined)
      return IndexStore.readCurrent(spark, name).orderBy("doc_id")
    val survivors = curationSurvivorsLedger(spark, dir)
    val docs = graft.Tables(spark, dir, "documents")
    val s2 = docs.join(survivors, md5(col("text")) === col("h"))
      .groupBy(col("h")).agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val dropB = graft.dedup.Dedup.minhashLsh(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    val merged = s2.join(dropB, Seq("doc_id"), "left_anti")
    // short grace like the merge sink: one commit per run, the chain
    // must not pile a ledger copy per invocation on disk
    val version = IndexStore.commit(name, "fuzzy", graceMs = 60000L)(merged)
    spark.read.parquet(version.toString).orderBy("doc_id")
  }

  private def twsTimerSessionsImpl(spark: SparkSession, dir: String,
      changelog: Boolean): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val sessions = timeSplitStream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new GapSessionProcessor(TwsGapUs),
        TimeMode.EventTime(), OutputMode.Append())
    runToMemory(spark, sessions.toDF(), mode = "append",
        minDataBatches = 3, rocksDb = true, changelog = changelog)
      .orderBy("user_id", "first_us")
  }

  /** [[SummaryProcessor]] driven through `transformWithState` — the
    * Spark 4 successor to `mapGroupsWithState`. Same input, same
    * closed-form oracle as [[sessionSummary]]: the old and new
    * custom-state APIs must agree row-for-row. transformWithState
    * supports only the RocksDB state store provider, which
    * [[runToMemory]] already scopes in. */
  def twsSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val sessions = eventStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SummaryProcessor, TimeMode.None(), OutputMode.Update())
    // transformWithState supports ONLY the RocksDB provider — pinned
    // regardless of the family default
    runToMemory(spark, sessions.toDF(), mode = "update", rocksDb = true)
      .groupBy("user_id")   // last update per key wins (single batch: identity)
      .agg(max("n_events").as("n_events"),
        min("first_us").as("first_us"), max("last_us").as("last_us"))
      .orderBy("user_id")
  }

  /** The custom DataSource V2 connector's STREAMING face
    * ([[graft.sources.SyntheticDocsSource]] via MICRO_BATCH_READ +
    * admission control): offsets are row ids, each trigger admits
    * `rowsPerBatch`, so 20k rows drain over 4 micro-batches into a
    * complete-mode aggregate — a custom streaming source with real
    * offset bookkeeping under the cross-engine hash gate (the oracle
    * reproduces the deterministic table from `range()`). */
  def dsv2Stream(spark: SparkSession, dir: String): DataFrame = {
    val stream = spark.readStream.format("graft.sources.SyntheticDocsSource")
      .option("rows", "20000").option("parts", "4").option("rowsPerBatch", "5000")
      .load()
    val agg = stream.groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        sum(col("score").cast("decimal(18,6)")).cast("double").as("sum_score"))
    runToMemory(spark, agg, minDataBatches = 3).orderBy("bucket")
  }

  /** The custom DSv2 source under `Trigger.AvailableNow` (round 17,
    * VERDICT r16 #2 — the admission-controlled half of the backfill
    * contract `stream_available_now` proved for the file source):
    * `prepareForTriggerAvailableNow` latches the backlog end BEFORE the
    * first batch, so the 10k ids that "arrive" mid-run (`lateRows` =
    * 30000) are never admitted — the run drains exactly the
    * prepare-time 20k snapshot across ≥3 admission-bounded (5k/trigger)
    * micro-batches and terminates ITSELF. Shares `stream_dsv2_source`'s
    * oracle: the frozen snapshot must equal the plain drain of the
    * un-grown source, so one admitted late id breaks the hash. */
  def dsv2AvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val stream = spark.readStream.format("graft.sources.SyntheticDocsSource")
      .option("rows", "20000").option("parts", "4").option("rowsPerBatch", "5000")
      .option("lateRows", "30000")
      .load()
    val agg = stream.groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        sum(col("score").cast("decimal(18,6)")).cast("double").as("sum_score"))
    runToMemory(spark, agg, minDataBatches = 3, availableNow = true)
      .orderBy("bucket")
  }

  /** Streaming → CATALOG-TABLE sink (round 17 continuation — the two
    * faces meeting): each micro-batch of the custom DSv2 source lands in
    * the graft catalog table through the DSv2 WRITE face. Batch 0
    * truncate-overwrites (the fresh-backfill convention), later batches
    * append, and every commit carries the batch id as its idempotency
    * tag (`commitTag` write option) — a foreachBatch REPLAY of a
    * committed-but-unacknowledged batch is a catalog-level NO-OP instead
    * of a double append, which is how exactly-once landing is built on
    * at-least-once delivery (the manifest version IS the transaction
    * log). Result read back through the same table; the oracle is the
    * 20k-row connector arithmetic a third time — one duplicated or
    * dropped batch breaks the hash. */
  def dsv2StreamSink(spark: SparkSession, dir: String): DataFrame = {
    val cat = graft.sources.Formats.ensureCatalog(spark)
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $cat.sink (id BIGINT, bucket INT, score DOUBLE)")
    val stream = spark.readStream.format("graft.sources.SyntheticDocsSource")
      .option("rows", "20000").option("parts", "4").option("rowsPerBatch", "5000")
      .load()
    drain(spark, stream.writeStream
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          val w = batch.writeTo(s"$cat.sink").option("commitTag", s"sinkbatch-$id")
          if (id == 0L) w.overwrite(lit(true)) else w.append()
        }
        .options(ckptOption),
      Map.empty, 3, "streaming sink")
    spark.sql(
      s"""SELECT bucket, count(*) AS cnt,
         |  CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) AS sum_score
         |FROM $cat.sink GROUP BY bucket ORDER BY bucket""".stripMargin)
  }

  /** NATIVE STREAMING SINK into the catalog table (round 17
    * continuation): `writeStream.toTable` through the table's
    * STREAMING_WRITE face — no foreachBatch plumbing; every epoch is one
    * staged manifest commit tagged (queryId, epochId), so an epoch
    * replayed after an unacknowledged success is a catalog-level no-op
    * (the exactly-once contract, now engine-managed). The table is
    * dropped and re-created per run (epoch tags are per-query; a rerun
    * is a NEW query appending to a fresh table). ≥3 data-carrying
    * epochs enforced; the oracle is the 20k-row connector arithmetic —
    * a double-committed or lost epoch breaks the hash. */
  def dsv2NativeStreamSink(spark: SparkSession, dir: String): DataFrame = {
    val cat = graft.sources.Formats.ensureCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.nsink")
    spark.sql(
      s"CREATE TABLE $cat.nsink (id BIGINT, bucket INT, score DOUBLE)")
    val stream = spark.readStream.format("graft.sources.SyntheticDocsSource")
      .option("rows", "20000").option("parts", "4").option("rowsPerBatch", "5000")
      .load()
    drain(spark, stream.writeStream.options(ckptOption), Map.empty, 3,
      "native streaming sink", table = Some(s"$cat.nsink"))
    spark.sql(
      s"""SELECT bucket, count(*) AS cnt,
         |  CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) AS sum_score
         |FROM $cat.nsink GROUP BY bucket ORDER BY bucket""".stripMargin)
  }

  /** TABLE-TO-TABLE STREAMING HOP (the medallion pattern every lakehouse
    * pipeline runs): a bronze catalog table fed by four SQL INSERTs is
    * consumed AS A STREAM (offsets = commit seqs, one version per
    * trigger), transformed, and landed in a silver catalog table through
    * the NATIVE streaming sink under `Trigger.AvailableNow` — the
    * backfill drains the versions latched at start and self-terminates,
    * each epoch one tagged atomic commit. Everything in the hop is this
    * round's connector surface composed end to end: table-as-stream
    * source → epoch-tagged streaming write → batch read-back. The
    * oracle re-derives the filtered transform from the insert
    * arithmetic — a version skipped, replayed, or an epoch
    * double-committed breaks the hash. */
  def dsv2Medallion(spark: SparkSession, dir: String): DataFrame = {
    val cat = graft.sources.Formats.ensureCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.bronze")
    spark.sql(s"DROP TABLE IF EXISTS $cat.silver")
    spark.sql(s"CREATE TABLE $cat.bronze (id BIGINT, bucket INT, score DOUBLE)")
    spark.sql(s"CREATE TABLE $cat.silver (id BIGINT, bucket INT, boosted DOUBLE)")
    for (b <- 0 until 4)
      spark.sql(s"INSERT INTO $cat.bronze ${graft.sources.Formats.rowsSql(b * 5000L, (b + 1) * 5000L)}")
    // >= 3 data-carrying batches: one per bronze version
    drain(spark, spark.readStream.table(s"$cat.bronze")
        .filter(col("bucket") < 8) // silver keeps the low half
        .select(col("id"), col("bucket"),
          (col("score") * lit(2.0)).as("boosted"))
        .writeStream
        .options(ckptOption),
      Map.empty, 3, "medallion hop", availableNow = true,
      table = Some(s"$cat.silver"))
    spark.sql(
      s"""SELECT bucket, count(*) AS cnt,
         |  CAST(sum(CAST(boosted AS DECIMAL(18,6))) AS DOUBLE) AS sum_boosted
         |FROM $cat.silver GROUP BY bucket ORDER BY bucket""".stripMargin)
  }

  /** CATALOG TABLE AS A STREAM (round 17 continuation — the last face of
    * the table's source/sink matrix): four SQL INSERTs land four commit
    * versions, then `readStream.table` consumes them through the graft
    * table's micro-batch face — offsets are commit seqs, admission is
    * ONE VERSION PER TRIGGER (each version's manifest diff is the
    * replayable unit), and an append-only-violating history fails loudly
    * instead of silently replaying or dropping rows. Four versions → ≥4
    * data-carrying triggers into the complete-mode aggregate; the oracle
    * is the 20k-row connector arithmetic — a version consumed twice or
    * skipped breaks the hash. */
  def dsv2TableStream(spark: SparkSession, dir: String): DataFrame = {
    val cat = graft.sources.Formats.ensureCatalog(spark)
    // fresh history per run: the stream replays the table FROM SEQ 0, so
    // the table must hold exactly this run's four versions
    spark.sql(s"DROP TABLE IF EXISTS $cat.feed")
    spark.sql(
      s"CREATE TABLE $cat.feed (id BIGINT, bucket INT, score DOUBLE)")
    for (b <- 0 until 4)
      spark.sql(s"INSERT INTO $cat.feed ${graft.sources.Formats.rowsSql(b * 5000L, (b + 1) * 5000L)}")
    val stream = spark.readStream.table(s"$cat.feed")
    val agg = stream.groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        sum(col("score").cast("decimal(18,6)")).cast("double").as("sum_score"))
    runToMemory(spark, agg, minDataBatches = 3).orderBy("bucket")
  }

  /** STREAMING CHANGE DATA FEED off the catalog table (round 17
    * continuation IV): the table-as-stream face requires append-only
    * history; THIS face lets a consumer follow a table mutated by
    * UPDATE/DELETE/MERGE. A scripted lifecycle lands load → UPDATE →
    * DELETE → append → OPTIMIZE, then the change feed
    * ([[graft.sources.GraftChangeFeed]]) is consumed as a STREAM from
    * seq 0 under `Trigger.AvailableNow` — offsets are commit seqs, one
    * version's retract-form change rows per trigger (removed files read
    * as delete-side, added as insert-side: exact under apply semantics,
    * zero shuffle in the source), and the compaction version emits
    * NOTHING (data-change-false). The consumer then APPLIES the feed —
    * insert-side rows minus delete-side retractions, the foreachBatch-
    * MERGE a downstream mirror runs — and the reconstructed mirror must
    * equal the table's final state under the range()-arithmetic oracle:
    * a lost retraction, replayed version, or leaked compaction row
    * breaks the hash. */
  def dsv2CdcStream(spark: SparkSession, dir: String): DataFrame = {
    val cat = graft.sources.Formats.ensureCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.cdcs")
    spark.sql(s"CREATE TABLE $cat.cdcs (id BIGINT, bucket INT, score DOUBLE)")
    spark.sql(s"INSERT OVERWRITE TABLE $cat.cdcs ${graft.sources.Formats.rowsSql(0L, 6000L)}")
    spark.sql(s"UPDATE $cat.cdcs SET score = score + 1.0 WHERE bucket = 3")
    spark.sql(s"DELETE FROM $cat.cdcs WHERE bucket = 5")
    spark.sql(s"INSERT INTO $cat.cdcs ${graft.sources.Formats.rowsSql(6000L, 8000L)}")
    val root = spark.conf.get(s"spark.sql.catalog.$cat.root")
    val tdir = java.nio.file.Paths.get(root, "cdcs")
    graft.sources.GraftCatalog.compact(tdir)
    val feed = spark.readStream
      .format("graft.sources.GraftChangeFeed")
      .option("table", tdir.toString)
      .option("startingSeq", "0")
      .load()
    // 4 data-carrying triggers = the four mutating commits; the compact
    // version must contribute NO batch rows (its trigger admits the seq
    // but plans zero splits)
    val retract = runToMemory(spark, feed, mode = "append",
      minDataBatches = 4, availableNow = true)
    val seqs = retract.select(col(graft.sources.GraftChangeFeed.CommitSeqCol))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    if (seqs != Seq(1L, 2L, 3L, 4L)) throw new IllegalStateException(
      s"feed must carry exactly the four mutating commits, got seqs $seqs")
    val typ = col(graft.sources.GraftChangeFeed.ChangeTypeCol)
    val ins = retract.where(typ.isin("insert", "update_postimage"))
      .select("id", "bucket", "score")
    val del = retract.where(typ.isin("delete", "update_preimage"))
      .select("id", "bucket", "score")
    // APPLY the retract feed: multiset cancellation reconstructs the
    // table (order-free from an empty start — every retraction has its
    // matching earlier insert-side row)
    ins.exceptAll(del)
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        sum(col("score").cast("decimal(18,6)")).cast("double").as("sum_score"))
      .orderBy("bucket")
  }

  /** Native session windows (`session_window`): per-user sessions with a
    * 30-minute inactivity gap as a streaming aggregate — the declarative
    * dual of the `mapGroupsWithState` summary ([[sessionSummary]]) and of
    * the batch `ev_sessionize` window pipeline. Runs across ≥3
    * micro-batches, so OPEN sessions provably merge across trigger
    * boundaries (an event in batch i+1 extends a session opened in batch
    * i); append mode emits a session only once the watermark passes its
    * end, which also EVICTS its state — the bounded-state property.
    * Boundary semantics pinned against the oracle: an event exactly
    * `gap` after the previous one starts a NEW session (Spark merges
    * only strictly-overlapping windows), and a session is emitted when
    * `end <= watermark` (ms-floored max event time − 10 min). */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame = {
    val agg = timeSplitStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
    runToMemory(spark, agg, mode = "append", minDataBatches = 3)
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("first_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"))
      .orderBy("user_id", "first_us")
  }

  /** Watermarked STREAM-STREAM inner join: click→purchase attribution —
    * each click joined to the same user's purchases within the following
    * hour, both sides unbounded streams. The equi-key (user) plus the
    * two-sided event-time range lets Spark bound join state: a click's
    * state is evicted once the watermark passes click_ts + 1 h, a
    * purchase's once it passes purchase_ts — the state-cleanup contract
    * that makes the operator viable on an unbounded stream (an
    * unconstrained stream-stream join buffers both streams forever).
    * Runs across ≥3 micro-batches over the time-split feed, so matches
    * provably span trigger boundaries (click in batch i, purchase in
    * batch i+1). Time-ordered arrival (ascending slices, 10-min
    * watermark lag) structurally rules out late drops, so the append
    * result equals the batch join — the oracle. Inner-join rows emit
    * eagerly per batch; the per-user rollup happens on the materialized
    * result (batch aggregate over sink-sized data). */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    // 3 slices = the minimum that still proves cross-batch matches; each
    // extra trigger costs a full state-store open/commit cycle per
    // partition on BOTH join sides (4 stores each), the dominant cost at
    // fixture scale
    val clicks = timeSplitStream(spark, dir).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = timeSplitStream(spark, dir).filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
      .withWatermark("p_ts", "10 minutes")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
    // 2 partitions: a stream-stream join opens FOUR state stores per
    // partition per trigger (left/right × key-count/key-index); with 150
    // join keys the per-store fixed cost dominates any parallelism gain.
    // A production job sizes this to key cardinality / executor count.
    runToMemory(spark, joined, mode = "append", minDataBatches = 3,
        stateParts = "2")
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("p_value").cast("decimal(18,2)")).cast("double").as("sum_purchase"))
      .orderBy("user_id")
  }

  /** Milestone emission via `flatMapGroupsWithState` (the 0..n-rows-per-
    * invocation custom-state primitive, vs `mapGroupsWithState`'s exactly-
    * one): one output row each time a user's cumulative event count
    * crosses a multiple of [[MilestoneStep]]. Runs across ≥3 micro-
    * batches over the time-split feed, so counts provably accumulate in
    * state between triggers and each milestone is emitted EXACTLY ONCE
    * (append mode accumulates the emissions; a re-emission would break
    * the hash against the closed-form oracle). */
  val MilestoneStep = 25L

  def milestones(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val step = MilestoneStep
    val out = timeSplitStream(spark, dir)
      .select(col("user_id")).as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state) =>
          val before = state.getOption.getOrElse(0L)
          val after = before + rows.size
          state.update(after)
          ((before / step + 1) to (after / step)).map(m => (user, m * step)).iterator
      }
    runToMemory(spark, out.toDF("user_id", "milestone"),
        mode = "append", minDataBatches = 3)
      .orderBy("user_id", "milestone")
  }

  /** Streaming event-type transition counting — the streaming dual of
    * the batch `ev_paths` Markov matrix, and the custom-state shape that
    * needs ORDER inside a group: each user's state carries the
    * chronologically LAST event seen so far (one tiny tuple per user),
    * each trigger's group rows are sorted in memory (bounded by batch
    * size), and the fold emits one (type → next_type) pair per arriving
    * event, bridging the trigger boundary through the carried state. The
    * time-split feed delivers slices in event-time order, so cross-batch
    * transitions (last event of batch i → first of batch i+1) are
    * provably exercised across ≥3 triggers. The oracle IS the batch
    * query's oracle (shared constant — streaming/batch duality by
    * construction). */
  def streamPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val pairs = timeSplitStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), (String, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state) =>
          // same total order as the batch lead() window: (t_us, event_id)
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          val types = state.getOption.map(_._3).toSeq ++ sorted.map(_._4)
          sorted.lastOption.foreach(l => state.update((l._2, l._3, l._4)))
          types.sliding(2).collect { case Seq(a, b) => (a, b) }.iterator
      }
    runToMemory(spark, pairs.toDF("event_type", "next_type"),
        mode = "append", minDataBatches = 3)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n_trans"))
      .orderBy(desc("n_trans"), asc("event_type"), asc("next_type"))
  }

  /** Streaming last-touch attribution — the online dual of the batch
    * `ev_attribution` (same oracle, duality by construction): each
    * user's most recent non-purchase channel is CARRIED as keyed state
    * across triggers, each arriving purchase emits its credited
    * (channel, value) immediately in append mode, and the complete
    * census aggregates the materialized credits. State is one string
    * per user — bounded by the key space, not the stream. Within a
    * trigger the group folds in the batch window's (t_us, event_id)
    * order; the time-split feed delivers slices in event-time order, so
    * a credit bridging the trigger boundary (purchase in batch i+1,
    * channel set in batch i) is provably exercised across ≥3 triggers. */
  def streamAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val credits = timeSplitStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("event_id"), col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[String, (String, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var ch = state.getOption.orNull
          val out = Seq.newBuilder[(String, Double)]
          sorted.foreach { case (_, _, _, tpe, value) =>
            if (tpe == "purchase") out += ((if (ch == null) "none" else ch, value))
            else ch = tpe
          }
          if (ch != null) state.update(ch)
          out.result().iterator
      }
    runToMemory(spark, credits.toDF("channel", "value"),
        mode = "append", minDataBatches = 3)
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("attributed_value"))
      .orderBy(desc("n_conversions"), asc("channel"))
  }

  /** Streaming deduplication (dropDuplicates over the stream's key column):
    * bounded-input distinct set; ordering applied to the materialized
    * result (a sort inside the stream is illegal in append mode). */
  def streamDistinctTypes(spark: SparkSession, dir: String): DataFrame = {
    val distinctTypes = eventStream(spark, dir)
      .select(col("event_type")).dropDuplicates("event_type")
    runToMemory(spark, distinctTypes, mode = "append").orderBy("event_type")
  }

  /** Watermark-bounded streaming dedup (`dropDuplicatesWithinWatermark`)
    * across ≥3 micro-batches of the time-split feed — the streaming face
    * of the dedup family. Unlike [[streamDistinctTypes]] (plain
    * dropDuplicates: state grows with the key space for the life of the
    * query), dedup state here is EVICTED once the watermark passes a
    * key's first-seen time + delay, so memory tracks the dedup horizon
    * rather than the stream length — the only formulation that survives
    * an unbounded 100 TB stream. On the finite fixture the delay exceeds
    * the feed's event-time span, so no state expires and the emitted set
    * is exactly the global distinct key set (the oracle below); the
    * expiry/re-emission semantics past the horizon are pinned in
    * StreamingStateSpec on a crafted feed. Output projects the key
    * columns only, so which same-key row arrived first is irrelevant to
    * the result. */
  def streamDedupWm(spark: SparkSession, dir: String): DataFrame = {
    // 3 slices = the multi-trigger contract's minimum; the emitted set
    // (global distinct keys — delay > span) is slicing-independent
    val deduped = timeSplitStream(spark, dir)
      .select(col("ts"), col("user_id"), col("event_type"))
      .withWatermark("ts", "30 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    runToMemory(spark, deduped, mode = "append", minDataBatches = 3)
      .orderBy("user_id", "event_type")
  }

  /** Stream-static enrichment join: the unbounded event stream joins a
    * broadcast static dimension (customer segment by key) before the
    * stateful aggregate — the standard "enrich then aggregate" layout.
    * The static side is re-planned per micro-batch; broadcast keeps the
    * join shuffle-free on the stream side. */
  /** Streaming AS-OF enrichment (round 16) — the online dual of
    * `ev_asof_enrich`, and the first streaming exercise of the custom
    * whole-operator tier: purchases ARRIVE as a stream (time-split feed,
    * one slice per trigger, ≥3 data batches) and each micro-batch is
    * enriched against the static deduplicated click table through
    * [[graft.plans.AsOf]] — the merge-pass exec runs INSIDE foreachBatch,
    * its per-trigger plan digested into the ledger via
    * the run's `batchPlan`. Enrichment against the complete static
    * right side is arrival-invariant (each purchase is matched on its
    * own event time, not on when it arrives), so the ORACLE is
    * `ev_asof_enrich`'s DuckDB native ASOF LEFT JOIN verbatim — the
    * stream must not change a single match. At 100 TB this is the
    * production shape: the click index is yesterday's compacted table,
    * purchases enrich on arrival, per-trigger output lands idempotently
    * by batch id. */
  def streamAsofEnrich(spark: SparkSession, dir: String): DataFrame = {
    // the static right side: clicks deduplicated per (user, micros) so
    // the as-of match is unique; bounded, loaded once, cached across
    // triggers
    val clicks = graft.queries.EventQueries.asofClicks(spark, dir).persist()
    try {
      clicks.count() // materialize the enrichment table before the stream
      val purchases = timeSplitStream(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"), col("value"))
      runForeachBatchToDirs(spark, purchases, "graft-asof-serve",
          minDataBatches = 3, what = "streaming as-of enrichment") { batch =>
        graft.plans.AsOf.join(batch, clicks,
            Seq("user_id" -> "c_user"), "t_us", "c_us")
          .select(col("event_id"), col("user_id"), col("t_us"), col("value"),
            col("click_id"), col("c_us").as("click_us"), col("click_value"))
      }.orderBy("event_id")
    } finally clicks.unpersist()
  }

  /** Streaming INTERVAL enrichment (round 16) — the online dual of
    * `ev_interval_join`, the plane-sweep tier's streaming exercise on
    * the shared [[runForeachBatchToDirs]] skeleton: ERROR impact windows
    * arrive over ≥3 triggers and each micro-batch is overlap-joined
    * against the static click-window table through
    * [[graft.plans.Interval]] inside foreachBatch. Overlap is symmetric
    * and each error arrives exactly once against the complete static
    * side, so the landed union is arrival-invariant and the ORACLE is
    * `ev_interval_join`'s DuckDB IEJoin query verbatim. */
  def streamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val clicks = graft.queries.EventQueries
      .impactWindows(spark, dir, "click", "c_").persist()
    try {
      clicks.count() // materialize the static side before the stream
      val w = graft.queries.EventQueries.ImpactWindowUs
      val errors = timeSplitStream(spark, dir)
        .filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("event_id").as("e_id"),
          unix_micros(col("ts")).as("e_start"),
          (unix_micros(col("ts")) + w).as("e_end"))
      runForeachBatchToDirs(spark, errors, "graft-ivl-serve",
          minDataBatches = 3, what = "streaming interval join") { batch =>
        graft.plans.Interval.join(clicks, batch,
            Seq("c_user" -> "e_user"), ("c_start", "c_end"), ("e_start", "e_end"))
          .select(col("c_user").as("user_id"),
            col("c_id").as("click_id"), col("e_id").as("error_id"),
            (least(col("c_end"), col("e_end")) -
              greatest(col("c_start"), col("e_start"))).as("overlap_us"))
      }.orderBy("user_id", "click_id", "error_id")
    } finally clicks.unpersist()
  }

  /** The FULLY STATEFUL streaming as-of (round 16) — where
    * [[streamAsofEnrich]] joins arriving purchases against a STATIC
    * click table, here BOTH types arrive on one stream and the click
    * side lives in `transformWithState` state ([[AsOfEnrichProcessor]]:
    * one ValueState row per user — the online feature-store shape, O(|users|)
    * state forever). Purchases are enriched the moment they arrive,
    * against exactly the clicks that have arrived before them — which
    * on the time-ordered feed is exactly the batch as-of's match set,
    * so the ORACLE is `ev_asof_enrich`'s native ASOF LEFT JOIN verbatim,
    * third spelling of the same result (batch exec / per-trigger exec /
    * stateful online). */
  def streamAsofStateful(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val enriched = timeSplitStream(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("is_click"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new AsOfEnrichProcessor,
        TimeMode.None(), OutputMode.Append())
    // per-purchase (unaggregated) emission: the module's file-sink rule
    // applies — never materialize an unaggregated stream through the
    // driver (runToMemory's row cap exists for aggregates)
    runToFiles(spark, enriched.toDF(), mode = "append",
        minDataBatches = 3, rocksDb = true)
      .orderBy("event_id")
  }

  /** Streaming INDEX APPEND (round 16) — `sim_ivf_append`'s online
    * half: appended vectors (vec_id % 4 = 3) ARRIVE over ≥3 triggers
    * and each micro-batch is assigned against the FROZEN base quantizer
    * ([[graft.similarity.Similarity.ivfBaseCentroids]], cached across
    * triggers) inside foreachBatch — one broadcast-centroid scan per
    * trigger, no retraining, exactly how a production vector store
    * absorbs a continuous append. The registered result is the same
    * per-cell base/new census as the batch query (landed streaming
    * assignments unioned with the static base assignment), and the
    * ORACLE is `sim_ivf_append`'s verbatim — assignment against a
    * frozen quantizer is arrival-invariant. */
  def streamIvfAppend(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.Similarity
    val feed = embSplitFeed(spark, dir, n = 3)
    val schema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    val cent = Similarity.ivfBaseCentroids(spark, dir).persist()
    try {
      cent.count() // freeze the quantizer before the stream starts
      val arrivals = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
        .filter(col("vec_id") % 4 === 3)
        .select(col("vec_id"), col("embedding"))
      val landedNew = runForeachBatchToDirs(spark, arrivals, "graft-ivf-append",
          minDataBatches = 3, what = "streaming index append") { batch =>
        Similarity.ivfAssignAgainst(cent, batch)
      }
      val baseAssign = Similarity.ivfAssignAgainst(cent,
        Tables(spark, dir, "embeddings")
          .filter(col("vec_id") % 4 =!= 3)
          .select(col("vec_id"), col("embedding")))
      // materialize the tiny census EAGERLY (it references cent through
      // baseAssign): a lazy return would be evaluated by the caller
      // after the finally unpersists the quantizer, recomputing the
      // whole base aggregation uncached
      baseAssign.withColumn("is_new", lit(0L))
        .unionByName(landedNew.withColumn("is_new", lit(1L)))
        .groupBy("cell")
        .agg(sum(when(col("is_new") === 0L, 1L).otherwise(0L)).as("n_base"),
          sum(col("is_new")).as("n_new"))
        .orderBy("cell")
        .localCheckpoint(true)
    } finally cent.unpersist()
  }

  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventStream(spark, dir)
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_val"))
    runToMemory(spark, agg).orderBy("c_mktsegment")
  }

  /** Count-Min sketch maintained ONLINE: a complete-mode (row, bucket)
    * grouped count of the event-type stream IS the d×w CMS — each
    * trigger's partial counts fold into state by cell-wise addition,
    * which is exactly the CMS merge operation, so the final table equals
    * the batch sketch over the same data (the oracle computes it
    * statically). State is ≤ d·w cells REGARDLESS of stream cardinality
    * — the only aggregation in the family whose state cannot grow, the
    * online half of `text_cms_heavy`'s fixed-memory frequency story.
    * Geometry shared with the batch sketch (same md5 bucketing, so the
    * two sketches are mergeable with each other, not just with
    * themselves). */
  def cmsSketch(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.text.TextAnalysis.CmsDepth
    val w = graft.text.TextAnalysis.CmsWidth
    val agg = eventStream(spark, dir)
      .select(col("event_type"), explode(expr(s"sequence(0, ${d - 1})")).as("i"))
      .select(col("i"),
        (expr("conv(substring(md5(concat(i, ':', event_type)), 1, 4), 16, 10)")
          .cast("long") % w).as("b"))
      .groupBy("i", "b").agg(count(lit(1)).as("c"))
    runToMemory(spark, agg).orderBy("i", "b")
  }

  /** Streaming HyperLogLog DAU monitor — the online sibling of the batch
    * ev_dau_hll sketch, and the distinct-count analog of
    * [[streamLatencyPctl]]'s bucketed percentiles: the stream maintains
    * ONLY the (day, bucket) register maxima in complete mode — state
    * bounded at |days|·64 integers regardless of volume, which is the
    * whole reason HLL is THE streaming distinct-count structure (an
    * exact streaming countDistinct's state grows with the user set).
    * Register construction AND the harmonic-mean read-off are the same
    * code the batch query runs ([[EventQueries.hllRegisters]] /
    * [[EventQueries.hllEstimate]]), and the oracle shares the batch
    * oracle's CTEs verbatim — online and offline DAU estimates cannot
    * fork. The register max merges monotonically, so complete-mode
    * re-emission per trigger is the sketch's natural update. */
  def streamDauHll(spark: SparkSession, dir: String): DataFrame = {
    val regs = graft.queries.EventQueries.hllRegisters(
      eventStream(spark, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")))
    graft.queries.EventQueries.hllEstimate(runToMemory(spark, regs))
      .orderBy("day")
  }

  /** Event-time remap constants for [[streamScd2Enrich]]: the fixture's
    * events live in 2024 while the orders dimension spans 1995–2001, so
    * each event's dimension-lookup time is 1995-01-01 plus its epoch
    * micros modulo ~6.3 years — deterministic integer arithmetic both
    * engines spell identically, landing every lookup inside the
    * dimension's era so every SCD2 run (not just the open-ended last
    * one) gets exercised. */
  val Scd2EpochUs = 788918400000000L // 1995-01-01T00:00:00Z in micros
  val Scd2SpanUs = 200000000000000L  // ~6.34 years

  /** Streaming enrichment against the SCD2 dimension AS-OF event time —
    * the most common production stream-join shape: every event looks up
    * the dimension VERSION valid at its (remapped) event time, i.e. the
    * unique run whose [eff_from, eff_to) range covers it, via a
    * stream-static LEFT join on the key plus the validity-range
    * predicate (the static side is the registered `rel_scd2_runs` build
    * — shared code, so enrichment can never drift from the dimension it
    * reads — broadcast, as a dimension should be). Events with no
    * covering run (user unknown to the dimension) survive as 'none' —
    * a LEFT join because enrichment must never drop facts. Validity
    * ranges partition each key's timeline, so the join is provably
    * 1-row-per-event (no fact duplication). Complete-mode census per
    * enriched priority; at 100 TB the dimension refreshes per batch via
    * foreachBatch and the join stays broadcast. */
  def streamScd2Enrich(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.queries.RelationalQueries.scd2Runs(spark, dir)
      .select(col("o_custkey"), col("priority"),
        // orders dates read as TIMESTAMP_NTZ; the LTZ cast is
        // value-preserving under the pinned UTC session timezone
        unix_micros(col("eff_from").cast("timestamp")).as("from_us"),
        unix_micros(col("eff_to").cast("timestamp")).as("to_us"))
    val ev = eventStream(spark, dir)
      .select(col("user_id"),
        // sign-preserving % on BOTH engines (not pmod): a corrupt
        // pre-1970 timestamp maps before the era and enriches to
        // 'none' identically, instead of forking the two sides
        (lit(Scd2EpochUs) + unix_micros(col("ts")) % lit(Scd2SpanUs))
          .as("as_of_us"))
    val joined = ev.join(broadcast(dim),
      col("user_id") === col("o_custkey") &&
        col("as_of_us") >= col("from_us") &&
        (col("to_us").isNull || col("as_of_us") < col("to_us")),
      "left_outer")
    val agg = joined
      .groupBy(coalesce(col("priority"), lit("none")).as("priority"))
      .agg(count(lit(1)).as("n_events"),
        min("as_of_us").as("min_us"), max("as_of_us").as("max_us"))
    runToMemory(spark, agg).orderBy("priority")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_scd2_enrich" -> (streamScd2Enrich _),
    "stream_dau_hll" -> (streamDauHll _),
    "stream_cms" -> (cmsSketch _),
    "stream_complete_counts" -> (completeCounts _),
    "stream_state_reader" -> (stateReader _),
    "stream_hourly_counts" -> (hourlyCounts _),
    "stream_dq_gate" -> (streamDqGate _),
    "stream_latency_pctl" -> (streamLatencyPctl _),
    "stream_hourly_files" -> (hourlyCountsFiles _),
    "stream_restart_recovery" -> (restartRecovery _),
    "stream_merge_upsert" -> (mergeUpsertStream _),
    "stream_cdc_delete" -> (cdcDeleteStream _),
    "stream_hourly_append" -> (hourlyAppend _),
    "stream_available_now" -> (hourlyAvailableNow _),
    "pipeline_compact_handoff" -> (compactionHandoff _),
    "stream_session_summary" -> (sessionSummary _),
    "stream_tws_summary" -> (twsSummary _),
    "stream_tws_timers" -> (twsTimerSessions _),
    "stream_tws_changelog" -> (twsTimerChangelog _),
    "stream_curation" -> (streamCuration _),
    "stream_curation_observed" -> (streamCurationObserved _),
    "stream_ann_serve" -> (streamAnnServe _),
    "stream_dedup_types" -> (streamDistinctTypes _),
    "stream_dedup_wm" -> (streamDedupWm _),
    "stream_static_join" -> (streamStaticJoin _),
    "stream_asof_enrich" -> (streamAsofEnrich _),
    "stream_asof_stateful" -> (streamAsofStateful _),
    "stream_ivf_append" -> (streamIvfAppend _),
    "stream_interval_join" -> (streamIntervalJoin _),
    "stream_stream_join" -> (streamStreamJoin _),
    "stream_session_window" -> (sessionWindows _),
    "stream_milestones" -> (milestones _),
    "stream_paths" -> (streamPaths _),
    "stream_attribution" -> (streamAttribution _),
    "stream_anomaly" -> (streamAnomaly _),
    "stream_lateness" -> (streamLateness _),
    "stream_dsv2_source" -> (dsv2Stream _),
    "stream_dsv2_available_now" -> (dsv2AvailableNow _),
    "stream_dsv2_sink" -> (dsv2StreamSink _),
    "stream_dsv2_native_sink" -> (dsv2NativeStreamSink _),
    "stream_dsv2_medallion" -> (dsv2Medallion _),
    "stream_dsv2_table_source" -> (dsv2TableStream _),
    "stream_dsv2_cdc_source" -> (dsv2CdcStream _))

  /** Shared by `stream_dsv2_source` and `stream_dsv2_available_now`
    * (round 17) — the connector's deterministic arithmetic over the
    * 20k-id snapshot; the AvailableNow latch must not change a row. */
  private val Dsv2SourceOracle =
    """WITH src AS (
      |  SELECT (i * 2654435761) % 2147483648 AS h
      |  FROM range(0, 20000) t(i))
      |SELECT CAST(h % 16 AS INTEGER) AS bucket, count(*) AS cnt,
      |  CAST(sum(CAST(CAST(h % 1000 AS DOUBLE) / 1000.0 AS DECIMAL(18,6))) AS DOUBLE) AS sum_score
      |FROM src GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Shared by `stream_hourly_append` and `stream_available_now` (round
    * 16) — the watermark-closed hourly windows; the run-mode under test
    * must not change a single emitted row. */
  private val HourlyAppendOracle =
    """WITH wm AS (
      |  SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 10 MINUTE AS w
      |  FROM events)
      |SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS cnt,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
      |FROM events GROUP BY 1, 2
      |HAVING hr + INTERVAL 1 HOUR <= (SELECT w FROM wm)
      |ORDER BY hr, event_type""".stripMargin

  /** Shared by `stream_tws_timers` and `stream_tws_changelog` — the gap
    * sessionization with the ms-ceiled terminal-watermark filter. */
  private val TwsTimersOracle =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
      |mx AS (SELECT max(t) AS mt FROM e),
      |s AS (
      |  SELECT user_id, t,
      |    CASE WHEN lag(t) OVER w IS NULL
      |           OR t - lag(t) OVER w > 43200000000 THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
      |g AS (
      |  SELECT user_id, t,
      |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t
      |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |  FROM s),
      |sess AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |         min(t) AS first_us, max(t) AS last_us
      |  FROM g GROUP BY user_id, sid)
      |SELECT user_id, n_events, first_us, last_us
      |FROM sess, mx
      |WHERE (last_us + 43200000000 + 999) // 1000 <= mt // 1000
      |ORDER BY user_id, first_us""".stripMargin

  /** The batch funnel's own CTEs (duality by construction): raw count,
    * the shared quality gate, distinct content hashes among the passing —
    * shared by `stream_curation` and its single-stream observed twin. */
  private def streamCurationSql: String =
    s"""WITH q1 AS (${graft.text.TextAnalysis.qualityPassSql})
       |SELECT 0 AS stage_no, 'raw' AS stage,
       |       (SELECT count(*) FROM documents) AS n_docs
       |UNION ALL SELECT 1, 'quality', (SELECT count(*) FROM q1)
       |UNION ALL SELECT 2, 'exact_dedup',
       |  (SELECT count(DISTINCT md5(d.text))
       |   FROM documents d JOIN q1 USING (doc_id))
       |ORDER BY stage_no""".stripMargin

  val oracles: Map[String, String] = Map(
    // streaming/batch duality BY CONSTRUCTION: the oracle is literally
    // the batch ev_paths oracle — the carried-state fold must reproduce
    // the lead() window's transition matrix exactly
    "stream_paths" -> graft.queries.EventQueries.oracles("ev_paths"),
    "stream_attribution" -> graft.queries.EventQueries.oracles("ev_attribution"),
    "stream_anomaly" -> graft.queries.EventQueries.oracles("ev_anomaly"),
    "stream_lateness" -> graft.queries.EventQueries.oracles("ev_lateness"),
    "stream_complete_counts" ->
      """SELECT event_type, count(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the state files must hold exactly the batch recompute: the oracle
    // covers the checkpoint bytes the statestore reader scanned
    "stream_state_reader" ->
      """SELECT event_type, count(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_cms" -> {
      import graft.text.TextAnalysis.{CmsDepth, CmsWidth, nibSql}
      val b = s"(${nibSql("CAST(i AS VARCHAR) || ':' || event_type", 4)} % $CmsWidth)"
      s"""WITH r AS (
         |  SELECT event_type, CAST(s.i AS INTEGER) AS i
         |  FROM events, UNNEST(generate_series(0, ${CmsDepth - 1})) s(i))
         |SELECT i, CAST($b AS BIGINT) AS b, count(*) AS c
         |FROM r GROUP BY i, b ORDER BY i, b""".stripMargin
    },
    // the registered SCD2 build's CTE chain verbatim + the event-time
    // remap, so the enrichment oracle reads the same dimension the
    // batch build publishes
    "stream_scd2_enrich" ->
      s"""WITH ${graft.queries.RelationalQueries.scd2ChainSql},
         |e AS (SELECT user_id,
         |        $Scd2EpochUs + (epoch_us(ts) % $Scd2SpanUs) AS as_of_us
         |      FROM events),
         |j AS (
         |  SELECT COALESCE(s.priority, 'none') AS priority, e.as_of_us
         |  FROM e LEFT JOIN scd2 s
         |    ON e.user_id = s.o_custkey
         |   AND e.as_of_us >= epoch_us(s.eff_from)
         |   AND (s.eff_to IS NULL OR e.as_of_us < epoch_us(s.eff_to)))
         |SELECT priority, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(min(as_of_us) AS BIGINT) AS min_us,
         |  CAST(max(as_of_us) AS BIGINT) AS max_us
         |FROM j GROUP BY priority ORDER BY priority""".stripMargin,
    // the batch HLL oracle's CTEs verbatim, minus the exact-DAU join the
    // bounded-state monitor deliberately does not carry
    "stream_dau_hll" ->
      s"""WITH ${graft.queries.EventQueries.hllOracleCtes}
         |SELECT day, ${graft.queries.EventQueries.hllOracleReadoff}
         |FROM s ORDER BY day""".stripMargin,
    "stream_latency_pctl" -> graft.functions.ExactPercentiles.sql(
      """  SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2""".stripMargin,
      "event_type", "bucket"),
    "stream_dq_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_user,
        |  CAST(sum(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nonpositive_value,
        |  CAST(sum(CASE WHEN TRY_CAST(json_extract_string(props, '$.k')
        |    AS BIGINT) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_props_no_k
        |FROM events""".stripMargin,
    "stream_hourly_counts" ->
      """SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin,
    // the file-sink route must not change the result: literally the
    // memory-sink sibling's oracle
    "stream_hourly_files" ->
      """SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin,
    // a kill/restart in the middle of the stream must not change the
    // result either: the recovered run's final emission is the same
    // whole-table aggregate (exactly-once input is require'd in-query)
    "stream_restart_recovery" ->
      """SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin,
    // the per-trigger conditional upsert's final state must equal the
    // batch argmax per user over the whole table (SCD1 duality)
    "stream_merge_upsert" ->
      """SELECT user_id, event_type AS last_type, value AS last_value,
        |       ts AS last_ts, event_id AS last_event_id
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // the argmax per user MINUS tombstoned users: a user whose newest
    // event is the tombstone type is absent from the served view
    "stream_cdc_delete" ->
      s"""SELECT user_id, event_type AS last_type, value AS last_value,
         |       ts AS last_ts, event_id AS last_event_id
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND event_type <> '$CdcTombstoneType'
         |ORDER BY user_id""".stripMargin,
    // Same aggregate as stream_hourly_counts, but only the windows the
    // watermark closed: end <= ms-floored max event time - 10 min (the
    // tie case end == watermark IS emitted; pinned empirically).
    "stream_hourly_append" -> HourlyAppendOracle,
    // IDENTICAL oracle on purpose: the AvailableNow run-mode changes how
    // the backlog is admitted and how the query ends, never what the
    // watermark emits
    "stream_available_now" -> HourlyAppendOracle,
    // the batch funnel's own CTE chain through its LSH stage
    // (pipeline_curation's s3, row for row): the online exact-dedup
    // ledger re-read by the batch compaction plus the fuzzy stage must
    // land exactly the funnel's fuzzy-dedup survivor set
    "pipeline_compact_handoff" ->
      s"""WITH ${graft.dedup.Dedup.minhashCtes},
         |q1 AS (${graft.text.TextAnalysis.qualityPassSql}),
         |s2 AS (SELECT min(d.doc_id) AS doc_id
         |       FROM documents d JOIN q1 USING (doc_id)
         |       GROUP BY md5(d.text)),
         |s3 AS (SELECT doc_id FROM s2
         |       WHERE doc_id NOT IN (SELECT doc_b FROM pr))
         |SELECT doc_id FROM s3 ORDER BY doc_id""".stripMargin,
    "stream_session_summary" ->
      """SELECT user_id, count(*) AS n_events,
        |       min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // identical closed form: the transformWithState re-expression must
    // agree with the mapGroupsWithState one row-for-row
    "stream_tws_summary" ->
      """SELECT user_id, count(*) AS n_events,
        |       min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // identical gap rule + identical terminal-watermark emission filter
    // (ms-CEILED, matching the processor's ceil-registered timer): a
    // user's final session emits iff max-event-time passes its end + gap
    "stream_tws_timers" -> TwsTimersOracle,
    // IDENTICAL oracle on purpose: changelog checkpointing changes how
    // state reaches the checkpoint, never what the query emits
    "stream_tws_changelog" -> TwsTimersOracle,
    // the parameterized batch IVF oracle over the streaming query set:
    // arrival as a stream must not change a single ranking
    "stream_ann_serve" ->
      graft.similarity.Similarity.ivfTopKSqlFor("vec_id % 100 = 7"),
    // the batch funnel's own CTEs (duality by construction): raw count,
    // the shared quality gate, distinct content hashes among the passing
    "stream_curation" -> streamCurationSql,
    // same funnel, same oracle: the observed variant reads the feed once
    // (observe node) instead of twice (census stream + survivor stream)
    "stream_curation_observed" -> streamCurationSql,
    "stream_dedup_types" ->
      """SELECT DISTINCT event_type FROM events ORDER BY event_type""".stripMargin,
    // delay > fixture span -> no state expiry -> exact global distinct
    "stream_dedup_wm" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // ev_asof_enrich's oracle VERBATIM (DuckDB native ASOF LEFT JOIN):
    // enrichment against the complete static click table is
    // arrival-invariant, so streaming the purchases must not change a
    // single match
    "stream_asof_enrich" ->
      graft.queries.EventQueries.oracles("ev_asof_enrich"),
    // the same oracle a THIRD time: on the time-ordered feed the
    // stateful online match set equals the batch as-of's
    "stream_asof_stateful" ->
      graft.queries.EventQueries.oracles("ev_asof_enrich"),
    // sim_ivf_append's oracle verbatim: assignment against a frozen
    // quantizer is arrival-invariant
    "stream_ivf_append" ->
      graft.similarity.Similarity.oracles("sim_ivf_append"),
    // ev_interval_join's oracle VERBATIM: overlap against the complete
    // static side is arrival-invariant
    "stream_interval_join" ->
      graft.queries.EventQueries.oracles("ev_interval_join"),
    "stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // closed form of exactly-once milestone emission: user u emits
    // m*step for m = 1 .. total(u) div step
    "stream_milestones" ->
      s"""WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
         |SELECT user_id, CAST(m * ${MilestoneStep} AS BIGINT) AS milestone
         |FROM c, UNNEST(range(1, n // ${MilestoneStep} + 1)) t(m)
         |ORDER BY user_id, milestone""".stripMargin,
    // the connector's deterministic arithmetic reproduced from range();
    // complete mode over the drained bounded stream == the batch aggregate
    "stream_dsv2_source" -> Dsv2SourceOracle,
    // SAME oracle: the AvailableNow latch freezes admission at the
    // prepare-time 20k snapshot, so the drained result must equal the
    // plain source's — one admitted late id (of the 10k arriving
    // mid-run) breaks the hash
    "stream_dsv2_available_now" -> Dsv2SourceOracle,
    // SAME oracle a third time: batch-tagged catalog commits must land
    // each micro-batch exactly once — a duplicated (replayed) or
    // dropped batch changes the counts
    "stream_dsv2_sink" -> Dsv2SourceOracle,
    // the native sink lands the same 20k connector rows, epoch-tagged
    "stream_dsv2_native_sink" -> Dsv2SourceOracle,
    // the bronze->silver hop: low-half buckets, score doubled
    "stream_dsv2_medallion" ->
      """WITH src AS (
        |  SELECT (i * 2654435761) % 2147483648 AS h
        |  FROM range(0, 20000) t(i))
        |SELECT CAST(h % 16 AS INTEGER) AS bucket, count(*) AS cnt,
        |  CAST(sum(CAST(CAST(h % 1000 AS DOUBLE) / 1000.0 * 2.0 AS DECIMAL(18,6))) AS DOUBLE) AS sum_boosted
        |FROM src WHERE h % 16 < 8 GROUP BY bucket ORDER BY bucket""".stripMargin,
    // and a fourth: the table-as-stream must deliver each commit version
    // exactly once (one trigger per version, manifest-diff partitions)
    "stream_dsv2_table_source" -> Dsv2SourceOracle,
    // the mirror reconstructed by APPLYING the streamed retract feed must
    // equal the table's final state: [0,6000) with bucket 3 boosted and
    // bucket 5 deleted, plus the [6000,8000) append
    "stream_dsv2_cdc_source" ->
      """WITH pre AS (
        |  SELECT (i * 2654435761) % 2147483648 AS h
        |  FROM range(0, 6000) t(i)),
        |app AS (
        |  SELECT (i * 2654435761) % 2147483648 AS h
        |  FROM range(6000, 8000) t(i)),
        |cur AS (
        |  SELECT CAST(h % 16 AS INTEGER) AS bucket,
        |    CAST(h % 1000 AS DOUBLE) / 1000.0
        |      + CASE WHEN h % 16 = 3 THEN 1.0 ELSE 0.0 END AS score
        |  FROM pre WHERE h % 16 <> 5
        |  UNION ALL
        |  SELECT CAST(h % 16 AS INTEGER),
        |    CAST(h % 1000 AS DOUBLE) / 1000.0
        |  FROM app)
        |SELECT bucket, count(*) AS cnt,
        |  CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) AS sum_score
        |FROM cur GROUP BY bucket ORDER BY bucket""".stripMargin,
    // gap-sessionization in exact integer micros; session starts when the
    // inter-event gap is >= 30 min (Spark merges only strictly-overlapping
    // session windows), emitted once end <= the final watermark
    "stream_session_window" ->
      s"""WITH wm AS (
         |  SELECT epoch_us(date_trunc('milliseconds', max(ts)) - INTERVAL 10 MINUTE) AS w
         |  FROM events),
         |t AS (SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events),
         |f AS (
         |  SELECT user_id, t_us,
         |    CASE WHEN t_us - lag(t_us) OVER w2 >= 1800000000 THEN 1 ELSE 0 END AS new_s
         |  FROM t WINDOW w2 AS (PARTITION BY user_id ORDER BY t_us, event_id)),
         |s AS (
         |  SELECT user_id, t_us,
         |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY t_us
         |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sn
         |  FROM f),
         |g AS (
         |  SELECT user_id, sn, min(t_us) AS first_us,
         |         max(t_us) + 1800000000 AS end_us, count(*) AS n_events
         |  FROM s GROUP BY user_id, sn)
         |SELECT user_id, first_us, end_us, n_events
         |FROM g, wm WHERE end_us <= w
         |ORDER BY user_id, first_us""".stripMargin,
    // watermark-correct append output over an ordered feed == batch join
    "stream_stream_join" ->
      """SELECT c.user_id, count(*) AS n_pairs,
        |       CAST(sum(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_purchase
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.user_id = c.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin)
}
