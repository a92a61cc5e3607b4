package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import scala.util.control.NonFatal

/** Per-query physical byte counters (round 15, VERDICT r14 #1): shuffle
  * write bytes, spilled bytes (memory + disk), and input bytes read,
  * summed over every task the query's jobs ran. Unlike wall time these
  * are LOAD-INVARIANT — an identical plan on identical data produces
  * (near-)identical counters no matter what else the box is doing — so
  * they are the scale signal background load cannot pollute, and the
  * anti-stall retry can distinguish "the plan changed" from "the machine
  * was busy".
  *
  * Round 16 (VERDICT r15 #5): `cpuMs` adds summed task
  * `executorCpuTime` (ns→ms). Bytes prove the plan moved the same data;
  * CPU proves the tasks *burned the same cycles* — together they close
  * the last attribution gap: a wall-time excursion with flat bytes AND
  * flat CPU is provably external scheduler contention (the tasks did
  * identical work and identical compute; only their wall-clock slots
  * stretched). CPU is noisier than bytes (JIT state, frequency scaling)
  * so it never gates the retry trigger — it refines the `load_noise`
  * classification from "very likely external" to "provably external". */
final case class IoBytes(shuffle: Long, spill: Long, input: Long,
    cpuMs: Long = 0L)
object IoBytes { val zero: IoBytes = IoBytes(0L, 0L, 0L, 0L) }

/** Accumulates task-level metrics across all jobs on the session; the
  * bench snapshots the running totals around each attempt and diffs.
  * Thread-safe (listener-bus delivery is single-threaded per queue, but
  * the bench reads from the main thread). */
private[graft] class TaskBytesListener extends SparkListener {
  private val shuffleW = new java.util.concurrent.atomic.AtomicLong
  private val spilled = new java.util.concurrent.atomic.AtomicLong
  private val inputR = new java.util.concurrent.atomic.AtomicLong
  private val cpuNs = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputR.addAndGet(m.inputMetrics.bytesRead)
      cpuNs.addAndGet(m.executorCpuTime)
    }
  }
  def snapshot(): IoBytes =
    IoBytes(shuffleW.get, spilled.get, inputR.get, cpuNs.get / 1000000L)
}

/** Benchmark main: runs every registered query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are materialized through the `noop` batch
  * writer — every row is fully computed and serialized by the real plan
  * (sorts included; `.count()` would let `EliminateSorts` drop the declared
  * output order and skip result materialization entirely).
  *
  * Each query is timed over SPARK_GRAFT_BENCH_RUNS executions (default 2)
  * and the MINIMUM is reported, labeled via the `runs` field. Rationale:
  * a query's first execution pays 1–6 s of Catalyst/janino/JIT compile
  * (measured ±30% run-to-run noise on this box), a one-time cost that
  * amortizes to zero in any real deployment; the warm time is the number
  * that scales with the data.
  *
  * Measurement-integrity layer (round 8 — the r07 official record ran
  * 5.7× the same-code rerun under external machine contention):
  *  - /proc/loadavg is sampled before and after the run and stamped into
  *    both JSON outputs (`load_before`/`load_after`), so a contended
  *    record is self-identifying instead of indistinguishable from a
  *    plan regression;
  *  - if load_before exceeds [[Bench.LoadWarnThreshold]] the line carries
  *    `"load_warn":true` — the run proceeds (refusing would leave the
  *    driver with no record at all) but the number is marked suspect;
  *  - any query whose min-of-runs lands above 3× its prior from the last
  *    committed BENCH_DETAIL.json is automatically re-run (up to
  *    [[Bench.MaxRetries]] extra attempts, min over all successes) — a
  *    transient stall must not stand as the query's recorded time; the
  *    retried names are listed in the detail file (`retried`), and
  *    `n_retried` rides the stdout line;
  *  - (round 15) every query also records LOAD-INVARIANT byte counters —
  *    shuffle-write, spilled (mem+disk), input-read — via a
  *    [[TaskBytesListener]] ([[IoBytes]], `queries_bytes` in the detail
  *    file). The retry trigger now requires BOTH time-over-3×-prior AND
  *    byte drift ([[Bench.ioDrift]]); a time excursion with matching
  *    bytes is recorded under `load_noise` instead of burning retries
  *    under the very load that caused it.
  */
object Bench {

  /** 1-min loadavg above which the record is stamped suspect. The bench
    * itself is the only thing that should be running; sbt + JVM warmup
    * alone stay well under this on the 32-core box. */
  val LoadWarnThreshold = 4.0

  /** Extra attempts granted to a query that ran >3× its prior. */
  val MaxRetries = 2

  /** De-noising for sub-second queries (round 10 — round 9's official
    * record burned 5 retries on 0.3–0.5 s aggregates whose 8× spread was
    * pure scheduler jitter, and the re-runs landed just as noisily):
    *  - a query whose committed prior is under [[SubSecondPrior]] gets ONE
    *    extra base run (min-of-3 instead of min-of-2) — at that duration a
    *    third sample costs ~0.5 s and collapses the min's variance far more
    *    reliably than a post-hoc retry taken under the same machine state;
    *  - the >3×-prior retry trigger carries an absolute floor of
    *    [[RetryFloorSec]]: a measurement that is 3× its 0.2 s prior but
    *    still in the jitter band is noise, not a stall, and re-measuring it
    *    proves nothing. Real stalls (seconds against a sub-second prior)
    *    still trip the trigger — the floor only mutes the noise band.
    *
    * Round 11 hardening — the r10 official window (load_before 3.03) STILL
    * burned 5 retries: its contended sub-second measurements landed at
    * 1.0–1.4 s, just over the old 1.0 s floor, so every one tripped the
    * trigger and the re-runs (taken under the same load) proved nothing:
    *  - [[RetryFloorSec]] is raised to 1.5 s — the observed contended-window
    *    noise band tops out ~1.4 s on this box, and a genuine stall against
    *    a sub-second prior shows up at multiple seconds, well over 1.5;
    *  - when the window itself is loaded at start (1-min loadavg over
    *    [[LoadedSampleThreshold]]), sub-second-prior queries take a FOURTH
    *    base sample: under contention the min needs more draws to find a
    *    quiet slot, and at <1 s each the extra draw is cheaper than any
    *    retry cycle. */
  val SubSecondPrior = 1.0
  val RetryFloorSec = 1.5

  /** 1-min loadavg above which sub-second queries take an extra base
    * sample (see above). Below [[LoadWarnThreshold]] on purpose: 3.03
    * (the r10 window) must qualify as loaded. */
  val LoadedSampleThreshold = 1.5

  /** Bounded quiet-window gate (round 13): before any timing starts, the
    * bench POLLS loadavg until the window is actually quiet instead of
    * merely stamping that it wasn't. Three committed records in a row
    * (r10 load 3.03, r11 load_warn, r12 load 2.29) measured someone
    * else's work; waiting out a transient spike costs minutes once,
    * mis-stamping a round's official number costs a whole round. The
    * wait is BOUNDED — past the deadline the run proceeds (refusing
    * would leave the driver with no record at all) and the stamped
    * `load_before`/`quiet_wait_sec` make the contention self-identifying. */
  val QuietDeadlineSec = 300
  val QuietPollSec = 10

  /** Poll `sample` until it drops below [[LoadedSampleThreshold]] or
    * `deadlineSec` of waiting elapses. Returns (finalLoad, waitedSec).
    * A negative sample (unreadable /proc/loadavg) exits immediately —
    * an unknown load must not burn the full deadline. Injectable clock
    * and sampler so the spec can drive it without sleeping. */
  private[graft] def awaitQuietWindow(sample: () => Double,
      deadlineSec: Int = QuietDeadlineSec, pollSec: Int = QuietPollSec,
      sleep: Long => Unit = Thread.sleep): (Double, Int) = {
    var waited = 0
    var load = sample()
    while (load >= LoadedSampleThreshold && waited < deadlineSec) {
      System.err.println(f"[bench] load $load%.2f >= $LoadedSampleThreshold; " +
        s"waiting for a quiet window (${waited}s/${deadlineSec}s)")
      sleep(pollSec * 1000L)
      waited += pollSec
      load = sample()
    }
    (load, waited)
  }

  private def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** Drain the async listener bus so [[TaskBytesListener]]'s totals cover
    * every task of the jobs that just ran. `LiveListenerBus.waitUntilEmpty`
    * is `private[spark]` (public at the bytecode level), so this goes
    * through reflection; if the internal shape ever changes, a short sleep
    * stands in — the counters would at worst attribute a trailing task to
    * the next query, never lose it. */
  private[graft] def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    } catch { case NonFatal(_) => Thread.sleep(100) }

  /** Is `cur` vs `prior` a REAL drift in a load-invariant byte counter?
    * Identical plans reproduce these counters to within partition-count
    * jitter, so the band is generous (1.5× either direction) with a 1 MiB
    * absolute floor — a counter that never leaves the KB range (tiny
    * shuffles, zero spill) cannot drift meaningfully. */
  private[graft] def bytesDrift(cur: Long, prior: Long): Boolean = {
    val hi = cur.max(prior); val lo = cur.min(prior)
    hi >= (1L << 20) && hi.toDouble > 1.5 * lo.max(1L).toDouble
  }

  /** Plan-shape drift between two byte records: shuffle or input moved.
    * Spill is deliberately EXCLUDED — it depends on memory pressure, i.e.
    * on the very background load the counters exist to factor out. CPU is
    * excluded too (round 16): it varies with JIT state and frequency
    * scaling, so it refines the load-noise verdict ([[cpuFlat]]) but
    * never gates a retry. */
  private[graft] def ioDrift(cur: IoBytes, prior: IoBytes): Boolean =
    bytesDrift(cur.shuffle, prior.shuffle) || bytesDrift(cur.input, prior.input)

  /** Is the summed task CPU time flat vs the prior? Same 1.5× band as
    * [[bytesDrift]] with a 1 s absolute floor — sub-second CPU totals live
    * in the scheduler/JIT jitter band and are always "flat". Used only to
    * upgrade a `load_noise` verdict (bytes flat) to PROVABLY external
    * (bytes AND cpu flat: identical data moved, identical cycles burned,
    * only the wall-clock slots stretched) — never to trigger a retry. */
  private[graft] def cpuFlat(curMs: Long, priorMs: Long): Boolean = {
    val hi = curMs.max(priorMs); val lo = curMs.min(priorMs)
    hi < 1000L || hi.toDouble <= 1.5 * lo.max(1L).toDouble
  }

  /** Priors from the last BENCH_DETAIL.json: per-query seconds
    * (`queries`) and byte counters (`queries_bytes`, round 15). */
  private[graft] case class Priors(times: Map[String, Double],
      bytes: Map[String, IoBytes])

  /** Priors from the last BENCH_DETAIL.json (committed each round), taken
    * only when that record was at the SAME scale factor — an sf0.001
    * detail file must not make every sf0.1 time look like a 3× stall.
    * Parsed as real JSON (Jackson rides Spark's classpath) — round 8's
    * string/regex match silently loaded nothing against a pretty-printed
    * detail file, so the retry layer never engaged on the one run that
    * needed it. Paths are normalized before comparing so `<dir>/sf0.1`
    * and `<dir>/sf0.1/` are the same scale factor. `queries_bytes` is absent on pre-round-15 detail files, in
    * which case the retry trigger falls back to time-only. Absent or
    * unparsable priors disable the retry trigger, never the run. */
  private[graft] def loadPriors(sfDir: String,
      detailPath: String = "BENCH_DETAIL.json"): Priors =
    try {
      import scala.jdk.CollectionConverters._
      def norm(p: String): String =
        java.nio.file.Paths.get(p).normalize().toString
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(
          java.nio.file.Paths.get(detailPath)))
      val recordedSf = Option(root.get("sf")).map(_.asText()).getOrElse("")
      // a query that FAILED in the prior run recorded a fail-fast stand-in
      // time (~10 ms), not a real measurement — using it as a prior would
      // stamp every healed successor a >3x "stall" and burn retries on
      // real times
      val failedThen: Set[String] = Option(root.get("failed"))
        .filter(_.isArray)
        .map(_.elements().asScala.map(_.asText()).toSet)
        .getOrElse(Set.empty)
      def entries(key: String) =
        Option(root.get(key))
          .filter(q => q.isObject && norm(recordedSf) == norm(sfDir))
          .map(_.fields().asScala.filterNot(e => failedThen.contains(e.getKey)).toSeq)
          .getOrElse(Nil)
      val times = entries("queries")
        .filter(_.getValue.isNumber)
        .map(e => e.getKey -> e.getValue.asDouble()).toMap
      val bytes = entries("queries_bytes")
        .filter(_.getValue.isObject)
        .map { e =>
          def n(k: String, absent: Long): Long =
            Option(e.getValue.get(k)).filter(_.isNumber).map(_.asLong()).getOrElse(absent)
          // cpu_ms: ABSENT (pre-r16 detail file) parses as -1, not 0 — a
          // prior that recorded no CPU must never ground a "provably
          // external" upgrade (cpuFlat's hi<1s branch would accept any
          // sub-second current CPU against a fake 0)
          e.getKey -> IoBytes(n("shuffle", 0L), n("spill", 0L), n("input", 0L),
            n("cpu_ms", -1L))
        }.toMap
      Priors(times, bytes)
    } catch { case NonFatal(_) => Priors(Map.empty, Map.empty) }

  /** One timed execution: wall seconds, success flag, and the task-level
    * byte counters the run produced. */
  private[graft] final case class Attempt(sec: Double, ok: Boolean,
      bytes: IoBytes = IoBytes.zero)

  /** One query's final measurement: min/max over successful runs, the byte
    * counters of the min-time successful run, the retry count, and whether
    * a time-over-prior excursion was classified as pure load noise (bytes
    * unchanged → no retry burned, the name rides the detail file).
    * `external` (round 16) marks the stronger verdict: bytes AND cpu both
    * flat vs the prior — provably external contention, see [[cpuFlat]]. */
  private[graft] final case class Measured(sec: Double, secMax: Double,
      ok: Boolean, retries: Int, bytes: IoBytes, loadNoise: Boolean,
      external: Boolean = false)

  /** Measure one query: `runs` timed attempts, then the anti-stall retry
    * loop. Round 15 (VERDICT r14 #1): the >3×-prior trigger now requires
    * BOTH legs when a byte prior exists — wall time over 3× the committed
    * same-SF prior AND a drift in a load-invariant byte counter
    * ([[ioDrift]]: shuffle-write or input bytes moved >1.5×). Bytes
    * unchanged means the plan did the same physical work and the slow
    * clock is background load; re-measuring under the same load proves
    * nothing (r13 sim_pca and r14 sim/dedup both burned retries exactly
    * this way), so the excursion is recorded as `loadNoise` instead.
    * Without a byte prior (first round after the format change) the
    * time-only trigger stands. Extracted from main so a spec can drive it
    * with a fake attempt and prove each branch fires (round 8's never
    * did). */
  private[graft] def measureOne(name: String, runs: Int,
      prior: Option[Double], attempt: () => Attempt,
      loaded: Boolean = false,
      bytesPrior: Option[IoBytes] = None): Measured = {
    // sub-second-prior queries take one extra base sample (two when the
    // window started loaded — see SubSecondPrior/LoadedSampleThreshold)
    val extra = if (prior.exists(_ < SubSecondPrior)) (if (loaded) 2 else 1) else 0
    val baseRuns = runs + extra
    var attempts = (0 until baseRuns).map(_ => attempt())
    // the reported time is the min over SUCCESSFUL runs only — a run
    // that threw in 50 ms must not undercut a 5 s successful run and
    // shrink the headline total; only when every run failed does the
    // (worst) failure time stand in, so breakage still costs, never
    // pays. ANY failed run marks the query not-ok (flaky is not ok).
    def minOkAttempt(a: Seq[Attempt]): Option[Attempt] =
      Some(a.filter(_.ok)).filter(_.nonEmpty).map(_.minBy(_.sec))
    def timeTripped: Boolean = prior.exists(p =>
      minOkAttempt(attempts).exists(a => a.sec > 3 * p && a.sec > RetryFloorSec))
    def bytesAgree: Boolean = bytesPrior.exists(bp =>
      minOkAttempt(attempts).exists(a => !ioDrift(a.bytes, bp)))
    var retries = 0
    var loadNoise = false
    while (retries < MaxRetries && timeTripped && !bytesAgree) {
      System.err.println(f"[bench] $name: ${minOkAttempt(attempts).get.sec}%.3f s > " +
        s"3x prior ${prior.get} with byte drift (or no byte prior); re-running")
      attempts :+= attempt()
      retries += 1
    }
    var external = false
    if (timeTripped && bytesAgree && retries == 0) {
      loadNoise = true
      // CPU refines the verdict (round 16, VERDICT r15 #5): flat bytes say
      // the plan moved the same data; flat CPU says the tasks also burned
      // the same cycles — at that point the excursion is PROVABLY external
      // scheduler contention, not even a JIT/codegen re-compile.
      // bp.cpuMs < 0 = the prior predates the cpu counter: no CPU
      // evidence, no upgrade — the weaker load_noise verdict stands
      external = (for {
        bp <- bytesPrior if bp.cpuMs >= 0
        a <- minOkAttempt(attempts)
      } yield cpuFlat(a.bytes.cpuMs, bp.cpuMs)).getOrElse(false)
      val verdict =
        if (external) "bytes AND cpu flat — PROVABLY external load"
        else "byte counters match the prior — load noise, not a plan change"
      System.err.println(f"[bench] $name: ${minOkAttempt(attempts).get.sec}%.3f s > " +
        s"3x prior ${prior.get} but $verdict; no retry")
    }
    val anySuccess = attempts.exists(_.ok)
    val best = minOkAttempt(attempts)
    val t = best.map(_.sec).getOrElse(attempts.map(_.sec).max)
    val tMax = if (anySuccess) attempts.filter(_.ok).map(_.sec).max
               else attempts.map(_.sec).max
    // a query with NO successful attempt measured nothing: record
    // cpu_ms = -1 (the ABSENT sentinel loadPriors already honors)
    // rather than 0, so a later round can never stamp a byte-flat
    // excursion "provably external" against a prior that measured
    // nothing (ADVICE r16 — belt to the `failed`-filter suspenders)
    Measured(t, tMax, attempts.forall(_.ok), retries,
      best.map(_.bytes).getOrElse(IoBytes(0L, 0L, 0L, -1L)), loadNoise, external)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val priors = loadPriors(sfDir)
    val (loadBefore, quietWait) = awaitQuietWindow(() => loadAvg())
    // ERROR logging (Sessions.local), not WARN: shutdown-time WARN spam
    // (e.g. DAGScheduler "Failed to cancel job group") lands in the 4 KB
    // stdout tail right around the JSON line and crowds it out
    val spark = Sessions.local(s"local[$cpus]")
    val byteCounter = new TaskBytesListener
    spark.sparkContext.addSparkListener(byteCounter)
    // Session warmup outside the timed region: first-scan/first-shuffle/
    // codegen JIT costs land here instead of on whichever query sorts first.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case NonFatal(e) => System.err.println(s"[bench] warmup failed: ${e.getMessage}") }
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // A throwing query must never masquerade as a fast success: each run
    // carries an ok flag, failed queries are listed by name in the detail
    // file, and the stdout line reports n_failed (0 on a healthy run).
    val measured = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        def attempt(): Attempt = {
          // the byte delta brackets the attempt; the bus is drained on both
          // sides so a previous query's straggler events never bleed in
          drainListenerBus(spark.sparkContext)
          val before = byteCounter.snapshot()
          val t0 = System.nanoTime()
          val runOk =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch { case NonFatal(e) =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              false
            }
          val sec = (System.nanoTime() - t0) / 1e9
          drainListenerBus(spark.sparkContext)
          val after = byteCounter.snapshot()
          Attempt(sec, runOk, IoBytes(after.shuffle - before.shuffle,
            after.spill - before.spill, after.input - before.input,
            after.cpuMs - before.cpuMs))
        }
        val m = measureOne(name, runs, priors.times.get(name), () => attempt(),
          loaded = loadBefore > LoadedSampleThreshold,
          bytesPrior = priors.bytes.get(name))
        (name, m)
      }
    val loadAfter = loadAvg()
    val results = measured.map { case (n, m) => (n, m.sec) }
    val maxima = measured.map { case (n, m) => (n, m.secMax) }
    val bytes = measured.map { case (n, m) => (n, m.bytes) }
    val failed = measured.collect { case (n, m) if !m.ok => n }
    val retried = measured.collect { case (n, m) if m.retries > 0 => n }
    val loadNoise = measured.collect { case (n, m) if m.loadNoise => n }
    val loadNoiseExternal = measured.collect { case (n, m) if m.external => n }
    // The driver retains only a ~4 KB stdout tail and parses the JSON line
    // from it. A full per-query map no longer fits (106 queries × ~28 chars
    // ≈ 4.9 KB — BENCH_r03/r04 recorded parsed:null for exactly this), so
    // the stdout line carries the total, per-family subtotals, and the
    // slowest individual queries, with the complete per-query map written
    // to BENCH_DETAIL.json in the working directory. A hard length guard
    // sheds entries rather than ever overflowing the tail again.
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    def jmap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    def jnames(ns: Seq[String]): String = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val families = results.groupBy(_._1.takeWhile(_ != '_'))
      .map { case (f, qs) => f -> qs.map(_._2).sum }.toSeq.sortBy(-_._2)
    val loadWarn = loadBefore > LoadWarnThreshold
    val provenance =
      s""""load_before":${fmt(loadBefore)},"load_after":${fmt(loadAfter)}""" +
        (if (loadWarn) ""","load_warn":true""" else "") +
        (if (quietWait > 0) s""","quiet_wait_sec":$quietWait""" else "") +
        s""","n_retried":${retried.size}""" +
        (if (loadNoise.nonEmpty) s""","n_load_noise":${loadNoise.size}""" else "")
    def jbytes(m: Seq[(String, IoBytes)]): String =
      m.map { case (k, b) =>
        "\"" + k + s"""":{"shuffle":${b.shuffle},"spill":${b.spill},"input":${b.input},"cpu_ms":${b.cpuMs}}"""
      }.mkString("{", ",", "}")
    val detailJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${jmap(results)},""" +
        s""""queries_max":${jmap(maxima)},""" +
        s""""queries_bytes":${jbytes(bytes)},""" +
        s""""n_failed":${failed.size},"failed":${jnames(failed)},""" +
        s""""retried":${jnames(retried)},"load_noise":${jnames(loadNoise)},""" +
        s""""load_noise_external":${jnames(loadNoiseExternal)},""" +
        s"""$provenance,"sf":"$sfDir","runs":$runs}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), detailJson)
    // Round-stamped copy (round 18, VERDICT r17 #8): the stdout line holds
    // only the slowest 15 queries, so cross-round per-query comparisons
    // need the full map under a name the NEXT round's run won't overwrite.
    // The round number is inferred from the committed BENCH_r<N>.json
    // files (the driver lands one per judged round): this run belongs to
    // round max+1. Additions-only — stdout contract and BENCH_DETAIL.json
    // are unchanged; inference failure skips the copy, never the run.
    try {
      val dir = java.nio.file.Paths.get(".")
      val rx = "BENCH_r(\\d+)\\.json".r
      val s = java.nio.file.Files.list(dir)
      val rounds = try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .flatMap(p => rx.unapplySeq(p.getFileName.toString).map(_.head.toInt))
          .toSeq
      } finally s.close()
      if (rounds.nonEmpty) java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"BENCH_DETAIL_r${rounds.max + 1}.json"),
        detailJson)
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] round-stamped detail copy skipped: ${e.getMessage}")
    }
    def line(k: Int): String = {
      val slowest = results.sortBy(-_._2).take(k)
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${jmap(slowest)},""" +
        s""""families":${jmap(families)},"n_queries":${results.size},"n_failed":${failed.size},""" +
        s"""$provenance,"detail":"BENCH_DETAIL.json","sf":"$sfDir","runs":$runs}"""
    }
    // k=0 drops the per-query/family maps entirely; if even that overflows
    // the driver's 4 KB stdout tail, fall back to a bare total-only line
    // rather than dying on .get after all the timing work is done.
    println(Iterator.range(15, -1, -1).map(line).find(_.length <= 3000).getOrElse(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},""" +
        s""""n_failed":${failed.size},$provenance,"sf":"$sfDir","runs":$runs}"""))
    System.out.flush()
    spark.stop()
  }
}
