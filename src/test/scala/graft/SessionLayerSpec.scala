package graft

object SessionLayerSpec {

  /** The keys `Engine.tune` sets. */
  val tuneKeys: Seq[String] = Seq(
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.optimizer.nestedSchemaPruning.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
    "spark.sql.legacy.parquet.nanosAsLong")
}

/** The session policy lives in one layer: `Sessions` builds every
  * session the library makes, and `Engine.tune` runs only through the
  * registry (`SparkEntry.queries` / `entry`) and `Sessions` — never
  * hand-written at a query top. */
class SessionLayerSpec extends SparkSpec {
  import SessionLayerSpec.tuneKeys

  private def offenders(needle: String, allowed: Set[String]): Seq[String] =
    MainSources.files
      .filterNot(p => allowed.contains(p.getFileName.toString))
      .filter(p => MainSources.code(p).contains(needle))
      .map(_.toString)

  test("sessions are built and tuned only in the session layer") {
    val builders = offenders("SparkSession.builder", Set("Sessions.scala"))
    assert(builders.isEmpty,
      s"SparkSession.builder outside Sessions.scala: ${builders.mkString(", ")}")
    val tunes = offenders("Engine.tune(",
      Set("Engine.scala", "SparkEntry.scala", "Sessions.scala"))
    assert(tunes.isEmpty,
      s"Engine.tune outside the registry and Sessions: ${tunes.mkString(", ")}")
  }

  test("a registered builder leaves its session tuned") {
    val tuned = spark.newSession()
    Engine.tune(tuned)
    val s = spark.newSession()
    assert(tuneKeys.exists(k => s.conf.get(k) != tuned.conf.get(k)),
      "a fresh session already carries every tuned value; the check is void")
    // building the DataFrame runs no action: only the registry's tune
    // can have moved the session's conf
    SparkEntry.queries("rel_q1_pricing")(s, PlanSnapshot.PinnedSf)
    tuneKeys.foreach(k => assert(s.conf.get(k) == tuned.conf.get(k), k))
  }
}
