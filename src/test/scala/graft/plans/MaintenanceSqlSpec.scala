package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `OPTIMIZE <catalog>.<table>` SQL verb through the injected
  * parser: compaction runs behind the pointer-swap commit, the result
  * row reports the file-count drop, and the guard rails (missing table,
  * non-graft catalog, bad arity, no name) fail loudly as parse/analysis
  * errors — never as an internal error or a silent no-op. */
class MaintenanceSqlSpec extends AnyFunSuite {

  private lazy val s: SparkSession =
    graft.Sessions.withExtensions(graft.TestSpark.spark)

  private def freshCatalog(): String = {
    val cat = s"moptspec${System.nanoTime() % 100000}"
    val root = graft.TempDirs.create("mopt-spec")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    cat
  }

  test("OPTIMIZE compacts, reports, and is idempotent") {
    val cat = freshCatalog()
    s.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE)")
    s.sql(s"INSERT INTO $cat.t SELECT id, 0.5 FROM range(0, 100)")
    s.sql(s"INSERT INTO $cat.t SELECT id, 0.5 FROM range(100, 150)")
    val r = s.sql(s"OPTIMIZE $cat.t").head()
    assert(r.getInt(1) >= 2 && r.getInt(2) == 1 && r.getLong(3) == 150L, r.toString)
    // content identical through the compacted manifest
    assert(s.sql(s"SELECT count(*) AS n, CAST(sum(id) AS BIGINT) AS s FROM $cat.t")
      .head() == org.apache.spark.sql.Row(150L, 150L * 149L / 2))
    // idempotent: a second OPTIMIZE is a no-op at the same version
    val r2 = s.sql(s"OPTIMIZE $cat.t").head()
    assert(r2.getLong(0) == r.getLong(0) && r2.getInt(1) == 1 && r2.getInt(2) == 1)
    // trailing semicolon and backtick quoting parse
    assert(s.sql(s"OPTIMIZE `$cat`.`t`;").head().getInt(2) == 1)
    // trailing comments are comments, not part of the name (review fix)
    assert(s.sql(s"OPTIMIZE $cat.t -- nightly").head().getInt(2) == 1)
    assert(s.sql(s"VACUUM $cat.t RETAIN 7 HOURS /* weekly */").head()
      .getInt(0) == 0)
    assert(s.sql(s"DESCRIBE HISTORY $cat.t -- audit").collect().nonEmpty)
  }

  test("VACUUM reclaims history by retention; current always survives") {
    val cat = freshCatalog()
    val root = s.conf.get(s"spark.sql.catalog.$cat.root")
    s.sql(s"CREATE TABLE $cat.t (id BIGINT)")
    s.sql(s"INSERT INTO $cat.t SELECT id FROM range(0, 10)")        // seq 1
    s.sql(s"INSERT OVERWRITE TABLE $cat.t SELECT id FROM range(0, 5)") // seq 2
    s.sql(s"INSERT INTO $cat.t SELECT id FROM range(5, 8)")         // seq 3
    // default retention (grace): young history survives a bare VACUUM
    val r0 = s.sql(s"VACUUM $cat.t").head()
    assert(r0.getInt(0) == 0, r0.toString)
    assert(s.sql(s"SELECT count(*) AS n FROM $cat.t VERSION AS OF '2'")
      .head().getLong(0) == 5L)
    // plant an orphan (a crashed writer's leftover)
    val orphan = java.nio.file.Paths.get(root, "t",
      graft.sources.GraftCatalog.DataDir, "part-crashed.gbin")
    java.nio.file.Files.writeString(orphan, "torn")
    // RETAIN 0: all superseded versions go; the YOUNG orphan SURVIVES —
    // the orphan sweep floors retention at the grace window, because an
    // unreferenced young file may be an in-flight writer's staged file
    val r1 = s.sql(s"VACUUM $cat.t RETAIN 0 HOURS").head()
    assert(r1.getInt(0) >= 2, r1.toString)
    assert(java.nio.file.Files.exists(orphan),
      "a grace-young orphan must survive VACUUM (in-flight writer guard)")
    assert(s.sql(s"SELECT count(*) AS n FROM $cat.t").head().getLong(0) == 8L)
    // time travel to the vacuumed version now fails loudly
    intercept[Exception] {
      s.sql(s"SELECT count(*) AS n FROM $cat.t VERSION AS OF '1'").collect()
    }
    // past the grace, the orphan is collectible
    val prevGrace = graft.sources.GraftCatalog.GraceMs
    graft.sources.GraftCatalog.GraceMs = 0L
    try {
      val r2 = s.sql(s"VACUUM $cat.t RETAIN 0 HOURS").head()
      assert(r2.getInt(1) >= 1, r2.toString)
      assert(!java.nio.file.Files.exists(orphan))
      // idempotent: nothing left to collect
      assert(s.sql(s"VACUUM $cat.t RETAIN 0 HOURS").head() ==
        org.apache.spark.sql.Row(0, 0))
    } finally graft.sources.GraftCatalog.GraceMs = prevGrace
  }

  test("DESCRIBE HISTORY lists surviving versions, newest first") {
    val cat = freshCatalog()
    s.sql(s"CREATE TABLE $cat.t (id BIGINT)")
    s.sql(s"INSERT INTO $cat.t SELECT id FROM range(0, 10)")           // seq 1
    s.sql(s"INSERT INTO $cat.t SELECT id FROM range(10, 30)")          // seq 2
    s.sql(s"INSERT OVERWRITE TABLE $cat.t SELECT id FROM range(0, 5)") // seq 3
    val h = s.sql(s"DESCRIBE HISTORY $cat.t").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    // the operation column carries each commit's kind marker
    assert(h.map(_.getString(6)).toSeq == Seq("truncate", "append", "append"))
    assert(h.map(r => (r.getInt(2) > 0, r.getLong(3))).toSeq
      .map(_._2) == Seq(5L, 30L, 10L))
    assert(h.map(_.getBoolean(5)).toSeq == Seq(true, false, false))
    // after VACUUM RETAIN 0, history shrinks to the current version and
    // DESCRIBE HISTORY agrees with what VERSION AS OF can still serve
    s.sql(s"VACUUM $cat.t RETAIN 0 HOURS")
    val h2 = s.sql(s"DESCRIBE HISTORY $cat.t").collect()
    assert(h2.map(_.getLong(0)).toSeq == Seq(3L))
    // the streaming sink's epoch commits surface their tag here
    // (batch commits carry none)
    assert(h2.forall(_.isNullAt(4)))
  }

  test("OPTIMIZE ZORDER BY rewrites multi-dimensionally clustered, content-identical, feed-invisible") {
    val cat = freshCatalog()
    s.sql(s"CREATE TABLE $cat.z (a BIGINT, b DOUBLE)")
    // scatter both dims so a plain sort on either cannot serve the other
    s.sql(
      s"""INSERT INTO $cat.z
         |SELECT (i * 37) % 4000 AS a, CAST((i * 911) % 4000 AS DOUBLE) AS b
         |FROM range(0, 4000) t(i)""".stripMargin)
    val sumBefore = s.sql(s"SELECT CAST(sum(a + b) AS BIGINT) FROM $cat.z")
      .head().getLong(0)
    val r = s.sql(s"OPTIMIZE $cat.z ZORDER BY (a, b)").head()
    assert(r.getInt(2) == 16 && r.getLong(3) == 4000L)
    assert(s.sql(s"SELECT CAST(sum(a + b) AS BIGINT) FROM $cat.z")
      .head().getLong(0) == sumBefore)
    def live(pred: String): Int = {
      val plan = s.sql(s"SELECT count(*) FROM $cat.z WHERE $pred")
        .queryExecution.executedPlan.toString
      "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).get.group(1).toInt
    }
    assert(live("a < 500") < 16 && live("b < 500.0") < 16,
      "both dimensions must prune after the z-order rewrite")
    // data-change-false: the zorder commit is invisible to the feed
    val root = s.conf.get(s"spark.sql.catalog.$cat.root")
    val seq = graft.sources.GraftChangeFeed.currentSeq(
      java.nio.file.Paths.get(root, "z"))
    assert(s.read.format("graft.sources.GraftChangeFeed")
      .option("table", s"$root/z")
      .option("fromSeq", (seq - 1).toString).option("toSeq", seq.toString)
      .load().isEmpty)
    // guard rails: unknown, empty, and over-wide column lists are loud
    intercept[Exception] { s.sql(s"OPTIMIZE $cat.z ZORDER BY (nope)") }
    intercept[Exception] { s.sql(s"OPTIMIZE $cat.z ZORDER BY ()") }
    intercept[Exception] { // 9 dims would shift the leading bits out
      s.sql(s"OPTIMIZE $cat.z ZORDER BY (a, b, a, b, a, b, a, b, a)")
    }
  }

  test("OPTIMIZE guard rails fail loudly") {
    val cat = freshCatalog()
    intercept[Exception] { s.sql(s"OPTIMIZE $cat.nope") } // missing table
    intercept[Exception] { s.sql("OPTIMIZE ") }           // no name
    intercept[Exception] { s.sql("OPTIMIZE just_one_part") } // 1-part name
    intercept[Exception] { s.sql("OPTIMIZE not_a_catalog.t") } // unregistered
    // a registered NON-graft catalog is refused by implementation check
    s.conf.set("spark.sql.catalog.moptjdbc",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    intercept[Exception] { s.sql("OPTIMIZE moptjdbc.t") }
    // OPTIMIZE inside a literal is data, not syntax
    val one = s.sql("SELECT 'OPTIMIZE x.y' AS s").head().getString(0)
    assert(one == "OPTIMIZE x.y")
  }
}
