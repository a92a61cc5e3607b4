package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's measurement-integrity layer has to be provably live: round 8
  * shipped a record where a 5.1×-over-prior query recorded `n_retried: 0`
  * because the priors loader string-matched compact JSON against a
  * pretty-printed detail file and silently loaded nothing. These tests pin
  * the two failure modes: priors must parse regardless of JSON formatting
  * and path spelling, and the >3× retry must actually fire.
  */
class BenchSpec extends AnyFunSuite {

  private def withDetailFile(contents: String)(f: String => Unit): Unit = {
    val p = java.nio.file.Files.createTempFile("bench-detail", ".json")
    try {
      java.nio.file.Files.writeString(p, contents)
      f(p.toString)
    } finally java.nio.file.Files.deleteIfExists(p)
  }

  test("loadPriors parses a compact detail file at the same sf") {
    withDetailFile(
      """{"metric":"total","value":2.0,"queries":{"q_a":1.25,"q_b":0.75},"sf":"/data/sf0.1","runs":2}""") { p =>
      val priors = Bench.loadPriors("/data/sf0.1", p).times
      assert(priors == Map("q_a" -> 1.25, "q_b" -> 0.75))
    }
  }

  test("loadPriors parses a pretty-printed detail file (round-8 regression)") {
    withDetailFile(
      """|{
         |  "metric": "total",
         |  "value": 2.0,
         |  "queries": {
         |    "q_a": 1.25,
         |    "q_b": 0.75
         |  },
         |  "sf": "/data/sf0.1",
         |  "runs": 2
         |}""".stripMargin) { p =>
      val priors = Bench.loadPriors("/data/sf0.1", p).times
      assert(priors == Map("q_a" -> 1.25, "q_b" -> 0.75))
    }
  }

  test("loadPriors normalizes sf paths before comparing") {
    withDetailFile(
      """{"queries":{"q_a":1.0},"sf":"/data/sf0.1/"}""") { p =>
      assert(Bench.loadPriors("/data/sf0.1", p).times == Map("q_a" -> 1.0))
      assert(Bench.loadPriors("/data/./sf0.1", p).times == Map("q_a" -> 1.0))
    }
  }

  test("loadPriors drops queries that failed in the prior run") {
    // a failed query's recorded time is a fail-fast stand-in, not a prior
    withDetailFile(
      """{"queries":{"q_ok":2.0,"q_broken":0.011},"failed":["q_broken"],"sf":"/data/sf0.1"}""") { p =>
      assert(Bench.loadPriors("/data/sf0.1", p).times == Map("q_ok" -> 2.0))
    }
  }

  test("loadPriors rejects a different-sf record and survives garbage") {
    withDetailFile("""{"queries":{"q_a":1.0},"sf":"/data/sf0.001"}""") { p =>
      assert(Bench.loadPriors("/data/sf0.1", p).times.isEmpty)
    }
    withDetailFile("""not json at all""") { p =>
      assert(Bench.loadPriors("/data/sf0.1", p).times.isEmpty)
    }
    assert(Bench.loadPriors("/data/sf0.1", "/nonexistent/x.json").times.isEmpty)
  }

  test("measureOne retries a run >3x over its prior and keeps the better min") {
    // first two attempts stall at 10 s, the retry lands at 1.0 s
    val times = Iterator(10.0, 10.0, 1.0, 1.0)
    val m =
      Bench.measureOne("q_stalled", runs = 2, prior = Some(1.0),
        attempt = () => Bench.Attempt(times.next(), true))
    assert(m.retries >= 1, "the >3x-over-prior trigger must fire")
    assert(m.sec == 1.0, "min over all successful attempts including retries")
    assert(m.ok)
  }

  test("measureOne does not retry without a prior or within 3x") {
    val m1 =
      Bench.measureOne("q_noprior", runs = 1, prior = None, () => Bench.Attempt(9.0, true))
    assert(m1.retries == 0 && m1.sec == 9.0)
    val m2 =
      Bench.measureOne("q_inband", runs = 1, prior = Some(4.0), () => Bench.Attempt(9.0, true))
    assert(m2.retries == 0 && m2.sec == 9.0)
  }

  test("measureOne takes an extra base run for sub-second priors (min-of-3)") {
    // prior 0.4 s < SubSecondPrior → 3 base samples, not 2; the third
    // (quiet) sample sets the min without spending any retry
    var calls = 0
    val times = Iterator(3.2, 3.1, 0.45)
    val m =
      Bench.measureOne("q_subsec", runs = 2, prior = Some(0.4),
        attempt = () => { calls += 1; Bench.Attempt(times.next(), true) })
    assert(calls == 3, "sub-second prior must add one base run")
    assert(m.sec == 0.45 && m.retries == 0 && m.ok)
  }

  test("measureOne retry floor: sub-second jitter never burns a retry") {
    // 3x over a 0.2 s prior but still under RetryFloorSec → jitter, no retry
    val m =
      Bench.measureOne("q_jitter", runs = 1, prior = Some(0.2),
        attempt = () => Bench.Attempt(0.8, true))
    assert(m.retries == 0 && m.sec == 0.8)
    // a REAL stall against the same prior (seconds, over the floor) retries
    val seq = Iterator(5.0, 5.0, 0.21, 0.21)
    val m2 =
      Bench.measureOne("q_stall", runs = 1, prior = Some(0.2),
        attempt = () => Bench.Attempt(seq.next(), true))
    assert(m2.retries >= 1 && m2.sec == 0.21)
  }

  test("measureOne retry floor covers the r10 contended band (1.0-1.4 s)") {
    // the r10 window's five burned retries were sub-second queries landing
    // at 1.0-1.4 s under load_before 3.03 — over 3x prior AND over the old
    // 1.0 s floor. The 1.5 s floor classifies that band as jitter.
    for (noisy <- Seq(1.01, 1.19, 1.41)) {
      val m =
        Bench.measureOne("q_r10_band", runs = 1, prior = Some(0.3),
          attempt = () => Bench.Attempt(noisy, true))
      assert(m.retries == 0, s"a $noisy s measurement must not burn a retry")
      assert(m.sec == noisy)
    }
    // but a multi-second stall against the same prior still trips it
    // (sub-second prior → 2 base samples; both must stall for the min to)
    val seq = Iterator(4.0, 4.0, 0.31)
    val m3 =
      Bench.measureOne("q_real_stall", runs = 1, prior = Some(0.3),
        attempt = () => Bench.Attempt(seq.next(), true))
    assert(m3.retries >= 1 && m3.sec == 0.31)
  }

  test("measureOne: loaded window adds a fourth base sample for sub-second priors") {
    var calls = 0
    val times = Iterator(2.2, 2.1, 2.0, 0.4)
    val m =
      Bench.measureOne("q_loaded", runs = 2, prior = Some(0.4),
        attempt = () => { calls += 1; Bench.Attempt(times.next(), true) }, loaded = true)
    assert(calls == 4, "loaded window + sub-second prior must take 4 base samples")
    assert(m.sec == 0.4 && m.retries == 0 && m.ok)
    // loaded window does NOT add samples for multi-second priors
    var calls2 = 0
    Bench.measureOne("q_big", runs = 2, prior = Some(3.0),
      attempt = () => { calls2 += 1; Bench.Attempt(3.1, true) }, loaded = true)
    assert(calls2 == 2)
  }

  test("measureOne: failed runs never undercut successes; all-fail costs worst time") {
    val seq = Iterator(Bench.Attempt(0.05, false), Bench.Attempt(5.0, true))
    val m = Bench.measureOne("q_flaky", runs = 2, None, () => seq.next())
    assert(m.sec == 5.0 && !m.ok)
    val mf = Bench.measureOne("q_dead", runs = 2, None, () => Bench.Attempt(0.3, false))
    assert(mf.sec == 0.3 && !mf.ok)
  }

  // ---- round 15: load-invariant byte counters gate the retry ----

  test("retry is SUPPRESSED when bytes match the prior (load noise, not a plan change)") {
    // 4x over the time prior, but shuffle/input counters identical to the
    // committed byte prior — the r13/r14 failure mode: wall clock polluted
    // by background load while the plan did the same physical work
    val b = IoBytes(shuffle = 50L << 20, spill = 0L, input = 200L << 20)
    var calls = 0
    val m = Bench.measureOne("q_loadnoise", runs = 2, prior = Some(2.0),
      attempt = () => { calls += 1; Bench.Attempt(8.0, true, b) },
      bytesPrior = Some(b))
    assert(m.retries == 0, "matching bytes must suppress the retry")
    assert(m.loadNoise, "the excursion must be classified as load noise")
    assert(calls == 2 && m.sec == 8.0 && m.ok)
    assert(m.bytes == b)
  }

  test("retry FIRES when time excursion comes with byte drift (real plan change)") {
    // shuffle bytes 3x the prior → the plan physically changed; the retry
    // must run (and here confirms the new cost is real)
    val prior = IoBytes(shuffle = 50L << 20, spill = 0L, input = 200L << 20)
    val drifted = prior.copy(shuffle = 150L << 20)
    val m = Bench.measureOne("q_regressed", runs = 2, prior = Some(2.0),
      attempt = () => Bench.Attempt(8.0, true, drifted),
      bytesPrior = Some(prior))
    assert(m.retries >= 1, "byte drift + time excursion must retry")
    assert(!m.loadNoise)
  }

  test("without a byte prior the time-only trigger stands (format migration)") {
    val times = Iterator(8.0, 8.0, 1.0, 1.0)
    val m = Bench.measureOne("q_nobytes", runs = 2, prior = Some(1.0),
      attempt = () => Bench.Attempt(times.next(), true), bytesPrior = None)
    assert(m.retries >= 1 && m.sec == 1.0)
  }

  test("bytesDrift: 1.5x band with a 1 MiB floor; ioDrift ignores spill") {
    assert(!Bench.bytesDrift(100L << 10, 900L << 10), "sub-MiB wiggle is not drift")
    assert(!Bench.bytesDrift(10L << 20, 12L << 20), "within 1.5x is not drift")
    assert(Bench.bytesDrift(10L << 20, 20L << 20), "2x over a MiB is drift")
    assert(Bench.bytesDrift(20L << 20, 10L << 20), "drift is direction-symmetric")
    assert(Bench.bytesDrift(5L << 20, 0L), "appearing from zero is drift")
    val a = IoBytes(10L << 20, 0L, 100L << 20)
    assert(!Bench.ioDrift(a.copy(spill = 500L << 20), a),
      "spill is load-dependent and must not count as plan drift")
    assert(Bench.ioDrift(a.copy(input = 300L << 20), a), "input drift counts")
  }

  test("loadPriors parses queries_bytes at the same sf, rejects others") {
    withDetailFile(
      """{"queries":{"q_a":1.0},"queries_bytes":{"q_a":{"shuffle":100,"spill":0,"input":200}},""" +
        """"sf":"/data/sf0.1"}""") { p =>
      // a pre-r16 entry with no cpu_ms parses it as -1 (ABSENT), never 0
      assert(Bench.loadPriors("/data/sf0.1", p).bytes ==
        Map("q_a" -> IoBytes(100L, 0L, 200L, -1L)))
      assert(Bench.loadPriors("/data/sf0.01", p).bytes.isEmpty)
    }
    // pre-round-15 detail files have no queries_bytes → empty, never throws
    withDetailFile("""{"queries":{"q_a":1.0},"sf":"/data/sf0.1"}""") { p =>
      assert(Bench.loadPriors("/data/sf0.1", p).bytes.isEmpty)
    }
    // round 16: cpu_ms rides each entry
    withDetailFile(
      """{"queries":{"q_a":1.0},"queries_bytes":{"q_a":{"shuffle":100,"spill":0,"input":200,"cpu_ms":4500}},""" +
        """"sf":"/data/sf0.1"}""") { p =>
      assert(Bench.loadPriors("/data/sf0.1", p).bytes ==
        Map("q_a" -> IoBytes(100L, 0L, 200L, 4500L)))
    }
  }

  // ---- round 16: CPU refines the load-noise verdict (VERDICT r15 #5) ----

  test("cpuFlat: 1.5x band with a 1 s floor") {
    assert(Bench.cpuFlat(400L, 900L), "sub-second cpu lives in the jitter band")
    assert(Bench.cpuFlat(4000L, 5000L), "within 1.5x is flat")
    assert(!Bench.cpuFlat(4000L, 9000L), "2.25x over a second is not flat")
    assert(!Bench.cpuFlat(9000L, 4000L), "direction-symmetric")
    assert(Bench.cpuFlat(0L, 0L) && Bench.cpuFlat(0L, 500L))
  }

  test("load-noise verdict upgrades to PROVABLY external when cpu is also flat") {
    // same bytes, same cpu, 4x wall time: identical data moved, identical
    // cycles burned — only the wall-clock slots stretched
    val b = IoBytes(shuffle = 50L << 20, spill = 0L, input = 200L << 20, cpuMs = 6000L)
    val m = Bench.measureOne("q_external", runs = 2, prior = Some(2.0),
      attempt = () => Bench.Attempt(8.0, true, b), bytesPrior = Some(b))
    assert(m.loadNoise && m.external, "flat bytes + flat cpu = provably external")
    assert(m.retries == 0)
  }

  test("a prior with NO cpu evidence (cpuMs=-1, pre-r16 file) never upgrades") {
    val prior = IoBytes(shuffle = 50L << 20, spill = 0L, input = 200L << 20, cpuMs = -1L)
    val cur = prior.copy(cpuMs = 400L) // sub-second — would pass cpuFlat vs 0
    val m = Bench.measureOne("q_nocpuprior", runs = 2, prior = Some(2.0),
      attempt = () => Bench.Attempt(8.0, true, cur), bytesPrior = Some(prior))
    assert(m.loadNoise && !m.external,
      "absent cpu prior must not ground the provable verdict")
  }

  test("load-noise with MOVED cpu stays the weaker verdict (JIT/codegen variance)") {
    // bytes flat (so no retry — the plan moved the same data) but cpu 3x:
    // could be a codegen recompile or frequency scaling, not provably external
    val prior = IoBytes(shuffle = 50L << 20, spill = 0L, input = 200L << 20, cpuMs = 2000L)
    val cur = prior.copy(cpuMs = 6000L)
    val m = Bench.measureOne("q_cpu_moved", runs = 2, prior = Some(2.0),
      attempt = () => Bench.Attempt(8.0, true, cur), bytesPrior = Some(prior))
    assert(m.loadNoise && !m.external, "moved cpu must not claim the provable verdict")
    assert(m.retries == 0, "cpu never gates the retry")
  }

  test("awaitQuietWindow: a quiet start returns immediately, zero wait") {
    var slept = 0L
    val (load, waited) = Bench.awaitQuietWindow(() => 0.8,
      deadlineSec = 300, pollSec = 10, sleep = ms => slept += ms)
    assert(load == 0.8 && waited == 0 && slept == 0L)
  }

  test("awaitQuietWindow: waits out a transient spike, stamps the quiet load") {
    // load decays 3.0 → 2.1 → 1.6 → 1.2; the gate must poll through the
    // loaded samples and return the first sub-threshold one
    val samples = Iterator(3.0, 2.1, 1.6, 1.2)
    var slept = 0L
    val (load, waited) = Bench.awaitQuietWindow(() => samples.next(),
      deadlineSec = 300, pollSec = 10, sleep = ms => slept += ms)
    assert(load == 1.2, "must return the first quiet sample")
    assert(waited == 30 && slept == 30000L, "three 10 s polls")
  }

  test("awaitQuietWindow: the deadline bounds the wait — a loaded box still runs") {
    var slept = 0L
    val (load, waited) = Bench.awaitQuietWindow(() => 5.0,
      deadlineSec = 60, pollSec = 10, sleep = ms => slept += ms)
    assert(load == 5.0, "the final (still-loaded) sample is what gets stamped")
    assert(waited == 60 && slept == 60000L, "exactly the deadline, then proceed")
  }

  test("awaitQuietWindow: unreadable loadavg (-1) exits immediately") {
    var slept = 0L
    val (load, waited) = Bench.awaitQuietWindow(() => -1.0,
      deadlineSec = 300, pollSec = 10, sleep = ms => slept += ms)
    assert(load == -1.0 && waited == 0 && slept == 0L,
      "an unknown load must not burn the deadline")
  }
}
