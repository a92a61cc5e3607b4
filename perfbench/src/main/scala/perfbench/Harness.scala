package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.emoji.EmojiOps
import graft.queries.TweetQueries

/** Runs one workload's registered queries from outside the program and
  * writes raw timings (and, traced, raw layer events) as one JSON file.
  * `run.py` turns that file into metrics; no arithmetic on the events
  * happens here.
  *
  * A run is the set-up (a SparkSession and one untimed warm-up pass that
  * writes every result as parquet for the oracle compare), then untraced
  * timed passes into the `noop` sink until `seconds` have passed (at least
  * three), then (traced runs only) two passes with the listeners attached
  * and two without, for the tracing overhead.
  *
  * Usage: Harness key=value... with keys queries (comma list, in run
  * order), data, verify, out, seconds, trace, cores, localdir, tmpdir,
  * and corpus (the emoji workload's tweet directory).
  */
object Harness {

  private def nowMs: Double = System.nanoTime() / 1e6

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private def writeJson(path: java.nio.file.Path, value: Any): Unit =
    Files.writeString(path, mapper.writeValueAsString(value))

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val queries = a("queries").split(",").toSeq
    val dataDir = a("data")
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val out = mutable.LinkedHashMap.empty[String, Any]

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", a("localdir"))
        .config("spark.sql.warehouse.dir", a("localdir") + "/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    val failures = new ConcurrentHashMap[String, String]()
    def pass(spark: SparkSession, sink: (String, DataFrame) => Unit,
        rec: Option[Recorder], id: Int): Seq[Map[String, Any]] =
      queries.map { name =>
        val fn = SparkEntry.queries(name)
        val files = rec.map(_.files())
        rec.foreach(_.label = s"$id/$name/build")
        val t0 = nowMs
        var (tb, te) = (t0, t0)
        try {
          val df = fn(spark, dataDir)
          tb = nowMs
          rec.foreach { r =>
            r.written(s"$id/$name/build", files.get)
            r.drain(spark)
            r.label = s"$id/$name/execute"
          }
          te = nowMs
          sink(name, df)
        } catch { case NonFatal(e) =>
          failures.putIfAbsent(name, String.valueOf(e.getMessage).take(300))
          System.err.println(s"[perfbench] $name failed in pass $id:")
          e.printStackTrace()
        }
        val t1 = nowMs
        rec.foreach { r => r.drain(spark); r.span(s"$id/$name", t0, tb, te, t1) }
        Map("name" -> name, "build_ms" -> (tb - t0), "wall_ms" -> (t1 - t0))
      }

    def timedPasses(spark: SparkSession, rec: Option[Recorder], firstId: Int,
        seconds: Double, minPasses: Int): Seq[Map[String, Any]] = {
      val noop: (String, DataFrame) => Unit =
        (_, df) => df.write.format("noop").mode("overwrite").save()
      val deadline = nowMs + seconds * 1000
      val passes = ArrayBuffer.empty[Map[String, Any]]
      while (passes.size < minPasses || nowMs < deadline) {
        val t0 = nowMs
        val qs = pass(spark, noop, rec, firstId + passes.size)
        val wall = nowMs - t0
        System.err.println(s"[perfbench] pass ${firstId + passes.size} ms: ${wall.round}")
        passes += Map("id" -> (firstId + passes.size), "wall_ms" -> wall, "queries" -> qs)
      }
      passes.toSeq
    }

    // set-up: the session plus the untimed warm-up pass on the cold JVM,
    // which also writes each result for the oracle compare
    val verify: (String, DataFrame) => Unit = (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"${a("verify")}/$name")
    val t0 = nowMs
    val spark = session()
    pass(spark, verify, None, -1)
    out("setup_ms") = nowMs - t0
    System.err.println(s"[perfbench] set-up ms: ${(nowMs - t0).round}")
    // the oracles of the tweet queries read the committed fixture corpus;
    // point them at the generated one
    val oracles = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(sql =>
      q -> a.get("corpus").fold(sql)(sql.replace(TweetQueries.FixtureDir, _))))
    writeJson(Paths.get(a("verify"), "oracle_sql.json"), oracles.toMap)

    // at least three passes: the first still carries JIT compilation and
    // run.py leaves it out of workload_s, so at least two count
    out("passes") = timedPasses(spark, None, 0, a("seconds").toDouble, 3)

    if (traced) {
      // traced, untraced, untraced, traced: the two kinds sit at the same
      // mean position, so the JIT still speeding passes up cancels out of
      // the tracing overhead
      val rec = new Recorder(nowMs, Paths.get(a("tmpdir")))
      val (on, off) = Seq(true, false, false, true).zipWithIndex.map { case (t, i) =>
        if (t) rec.attach(spark)
        val p = timedPasses(spark, Some(rec).filter(_ => t), 1000 + i, 0, 1)
        if (t) rec.detach(spark)
        (t, p.head)
      }.partition(_._1)
      out("traced_passes") = on.map(_._2)
      out("paired_passes") = off.map(_._2)
      out("events") = rec.events
      a.get("corpus").foreach(c => out("emoji_extract_ms") = extractMs(spark, c))
    }
    out("failures") = failures.asScala.toMap
    out("peak_rss_mb") = peakRssMb()
    out("cores") = cores
    writeJson(Paths.get(a("out")), out)
    spark.stop()
    sys.exit(0)
  }

  /** The public tokenizers alone, over the corpus text held in memory:
    * median of three runs of all three columns, summed so every token is
    * produced. */
  private def extractMs(spark: SparkSession, corpus: String): Double = {
    val text = spark.read.json(corpus).select(col("data.text").as("text"))
      .filter(col("text").isNotNull).cache()
    text.count()
    val t = col("text")
    val runs = (1 to 3).map { _ =>
      val t0 = nowMs
      text.select(sum(size(EmojiOps.extractEmojis(t))),
          sum(size(EmojiOps.referenceTokenize(t))),
          sum(size(EmojiOps.extractEmojiClusters(t))))
        .write.format("noop").mode("overwrite").save()
      nowMs - t0
    }
    text.unpersist()
    runs.sorted.apply(1)
  }

  private def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case NonFatal(_) => 0.0 }
}

/** Listener side of a traced run. Every event is filed under the label
  * the main thread set last (`pass/query/phase`); the main thread drains
  * the listener bus before it changes the label, so asynchronous delivery
  * cannot file an event under the next query. Times are milliseconds on
  * the epoch clock (the listener events' clock), offset so spans recorded
  * by the main thread share it. */
final class Recorder(originNanoMs: Double, programTmp: java.nio.file.Path) {
  @volatile private var current = ""
  private val epochOffset = System.currentTimeMillis() - originNanoMs
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val jobs = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val counters = new ConcurrentHashMap[String, Array[Double]]()

  // per-label counter slots, in this order
  private val Counters: Seq[String] = Seq("tasks", "task_run_ms", "task_cpu_ms", "task_gc_ms",
    "input_bytes", "shuffle_write_bytes", "spill_bytes", "output_bytes",
    "output_files", "stages", "sql_actions", "plan_ms")

  private def add(lbl: String, key: String, v: Double): Unit = {
    val arr = counters.computeIfAbsent(lbl, _ => new Array[Double](Counters.size))
    val i = Counters.indexOf(key)
    arr.synchronized { arr(i) += v }
  }

  /** Size and modification time of every file under the program's temp
    * root, where its catalog tables, stream feeds and file sinks live. */
  def files(): Map[String, (Long, Long)] = {
    val walk = Files.walk(programTmp)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { p =>
      try Some(p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
      catch { case NonFatal(_) => None }
    }.toMap
    finally walk.close()
  }

  /** Files the builder wrote under `label`: new, or changed since `before`.
    * The data source write path reports no task output metrics, so the
    * files it leaves behind are what can be counted from outside. */
  def written(l: String, before: Map[String, (Long, Long)]): Unit =
    files().foreach { case (p, v) =>
      if (!before.get(p).contains(v)) { add(l, "output_bytes", v._1); add(l, "output_files", 1) }
    }

  /** The label events are filed under from now on; drain first. */
  def label_=(l: String): Unit = current = l
  def label: String = current

  /** One query's span [t0, t1] with its children build [t0, tb] and
    * execute [te, t1], on the main thread's nanosecond clock. */
  def span(l: String, t0: Double, tb: Double, te: Double, t1: Double): Unit =
    spans += Map("label" -> l, "ms" -> Seq(t0, tb, te, t1).map(_ + epochOffset))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Map("label" -> label, "start_ms" -> e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j + ("end_ms" -> e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(label, "stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      add(label, "tasks", 1)
      if (m != null) {
        add(label, "task_run_ms", m.executorRunTime)
        add(label, "task_cpu_ms", m.executorCpuTime / 1e6)
        add(label, "task_gc_ms", m.jvmGCTime)
        add(label, "input_bytes", m.inputMetrics.bytesRead)
        add(label, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(label, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      add(label, "sql_actions", 1)
      add(label, "plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val triggers = ArrayBuffer.empty[Map[String, Any]]
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t = Map(
        "label" -> label,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      triggers.synchronized { triggers += t }
    }
  }

  /** Drains first: events of the untraced pass before would otherwise be
    * filed under the first traced query. */
  def attach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until the listener bus has delivered every posted event.
    * `LiveListenerBus.waitUntilEmpty` is public in bytecode only, hence
    * the reflection. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }

  /** Everything recorded, as plain maps and sequences for the record. */
  def events: Map[String, Any] = Map(
    "spans" -> spans.synchronized(spans.toSeq),
    "jobs" -> jobs.asScala.toSeq.sortBy(_._1).map(_._2),
    "triggers" -> triggers.synchronized(triggers.toSeq),
    "counters" -> counters.asScala.map { case (l, arr) => l -> Counters.zip(arr).toMap }.toMap)
}
