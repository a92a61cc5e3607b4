package graft.streaming

import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.{Row, SparkSession}

import graft.{PlanSnapshot, SessionLayerSpec, SparkEntry, SparkSpec}

/** Every stream starts, drains and is recorded through
  * [[StreamingOps.drain]], which holds a query's state confs only across
  * its start: a registered streaming query leaves the caller's session as
  * it found it, and two streams drained at once on one session keep their
  * own state partitions and their own run records. */
class StreamHygieneSpec extends SparkSpec {

  private val sf = PlanSnapshot.PinnedSf

  /** Every registered query that runs a stream. */
  private lazy val streamingQueries: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => StreamingOps.queries.contains(n) || PlanSnapshot.streaming(n))

  /** Conf keys a registered query may leave set: `Engine.tune`'s, and the
    * graft catalog `Formats.ensureCatalog` registers. */
  private def documented(key: String): Boolean =
    SessionLayerSpec.tuneKeys.contains(key) ||
      key.startsWith("spark.sql.catalog.graft_cat")

  private def tempViews(s: SparkSession): Set[String] =
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("every registered streaming query leaves its session's conf, temp " +
      "views and active streams as it found them") {
    assert(streamingQueries.size == 45, streamingQueries.mkString(", "))
    val s = spark.newSession()
    val conf0 = s.conf.getAll
    val views0 = tempViews(s)
    streamingQueries.foreach { name =>
      SparkEntry.queries(name)(s, sf).collect()
      val conf = s.conf.getAll
      val moved = (conf0.keySet ++ conf.keySet).filterNot(documented)
        .filter(k => conf0.get(k) != conf.get(k))
        .map(k => s"$k: ${conf0.get(k)} -> ${conf.get(k)}")
      assert(moved.isEmpty, s"$name changed the session conf: ${moved.mkString("; ")}")
      assert(tempViews(s) == views0, s"$name left temp views")
      assert(s.streams.active.isEmpty,
        s"$name left active streams: ${s.streams.active.map(_.name).mkString(", ")}")
    }
  }

  test("two streams drained at once on one session keep their own state " +
      "partitions, rows and run records") {
    val s = spark.newSession()
    val parts = Map("stream_stream_join" -> 2, "stream_complete_counts" -> 4)
    def run(name: String): (Seq[Row], String) = {
      val rows = SparkEntry.queries(name)(s, sf).collect().toSeq
      (rows, StreamingOps.lastRun.plan)
    }
    val sequential = parts.keys.map(n => n -> run(n)._1).toMap
    val conf0 = s.conf.getAll
    val pool = Executors.newFixedThreadPool(parts.size)
    val concurrent =
      try parts.keys.toSeq
        .map(n => n -> pool.submit(new Callable[(Seq[Row], String)] {
          override def call(): (Seq[Row], String) = run(n)
        }))
        .map { case (n, f) => n -> f.get() }
      finally pool.shutdown()
    concurrent.foreach { case (name, (rows, plan)) =>
      assert(rows.nonEmpty && rows == sequential(name),
        s"$name: concurrent rows differ from its sequential run")
      val stateParts = "numPartitions = (\\d+)".r.findAllMatchIn(plan)
        .map(_.group(1).toInt).toSet
      assert(stateParts == Set(parts(name)),
        s"$name: state partitions $stateParts in its own run record")
    }
    assert(s.conf.getAll == conf0, "the concurrent drains moved the session conf")
  }
}
