package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession

/** The one place the library builds a SparkSession.
  *
  * [[local]] is the session of every main (Bench, Verify, Smoke, Explain,
  * PlanSnapshot, the soaks) and of the test suite: shuffle partitions at
  * the core count, no UI, UTC, ERROR logging, and [[Engine.tune]] applied
  * at creation, so code that calls a module function directly (the soaks,
  * the specs) sees the same posture the registry gives a query.
  *
  * [[withExtensions]] is the `spark.sql.extensions` session the SQL-verb
  * queries (ASOF / INTERVAL JOIN, OPTIMIZE) run on.
  */
object Sessions {

  private val LocalMaster = """local\[(\d+)(?:,\s*\d+)?\]""".r

  /** A session on `master` (`local[N]` or `local[N, maxFailures]`) with
    * `N` shuffle partitions; `conf` adds builder settings (app name,
    * warehouse dir). */
  def local(master: String, conf: (String, String)*): SparkSession = {
    val cores = master match {
      case LocalMaster(n) => n
      case _ => throw new IllegalArgumentException(
        s"expected local[N] or local[N, F], got $master")
    }
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Engine.tune(s)
    s
  }

  private val extRef = new AtomicReference[SparkSession]()

  /** One extensions-enabled session per SparkContext, sharing the
    * caller's context — the `spark.sql.extensions` surface a cluster user
    * gets, needed because the ASOF / INTERVAL JOIN / OPTIMIZE syntax lives
    * in the injected parser and the caller owns its own session. A cached
    * session on another (stopped) context is rebuilt. The caller's
    * active/default session registration is restored right after the
    * build so nothing else sees the extra session. */
  def withExtensions(spark: SparkSession): SparkSession = {
    def current: Option[SparkSession] =
      Option(extRef.get()).filter(_.sparkContext eq spark.sparkContext)
    current.getOrElse(synchronized {
      current.getOrElse {
        // the registry swap is restored in a finally (a builder failure
        // must not leave the JVM with no default session), and restores
        // whatever was registered before, not unconditionally `spark`
        val prevDefault = SparkSession.getDefaultSession
        val prevActive = SparkSession.getActiveSession
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        val s =
          try SparkSession.builder()
            .config("spark.sql.shuffle.partitions",
              spark.conf.get("spark.sql.shuffle.partitions"))
            .config("spark.sql.session.timeZone", "UTC")
            .withExtensions(new graft.plans.GraftExtensions)
            .getOrCreate()
          finally {
            SparkSession.setDefaultSession(prevDefault.getOrElse(spark))
            SparkSession.setActiveSession(prevActive.getOrElse(spark))
          }
        Engine.tune(s)
        extRef.set(s)
        s
      }
    })
  }
}
