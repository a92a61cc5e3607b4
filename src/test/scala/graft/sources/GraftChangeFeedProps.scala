package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Property fuzz over the WHOLE change-feed surface: random lifecycles
  * mixing every mutating verb (append, overwrite, COW update, MERGE,
  * delete — copy-on-write AND deletion-vector mode — compaction,
  * z-order compaction, and one `ADD COLUMN` per lifecycle, so pre-ALTER
  * narrow files meet masks, rewrites and compaction) must satisfy the
  * feed's apply invariant at every probed version: replaying the
  * retract feed from empty reconstructs the snapshot `VERSION AS OF k`
  * exactly, and the minimal net feed applies to the same state. The
  * final snapshot must also equal a plain Scala model of the script.
  * One violated multiset anywhere — a lost retraction, a resurrected
  * masked row, a mislabeled image, a leaked compaction — fails the seed
  * with its op script printed. */
class GraftChangeFeedProps extends SparkSpec {

  private def applied(feed: DataFrame): DataFrame = {
    val typ = col(GraftChangeFeed.ChangeTypeCol)
    feed.where(typ.isin("insert", "update_postimage")).select("id", "v")
      .exceptAll(
        feed.where(typ.isin("delete", "update_preimage")).select("id", "v"))
  }

  test("retract apply == snapshot at every probed version (12 random lifecycles)") {
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val cat = s"cfp$seed"
      val root = graft.TempDirs.create("cfeed-props")
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
      val dvMode = seed % 2 == 0
      val props =
        if (dvMode) " TBLPROPERTIES ('graft.delete.mode' = 'dv')" else ""
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v BIGINT)$props")
      val dir = root.resolve("t")
      val script = scala.collection.mutable.ArrayBuffer.empty[String]
      def run(sql: String): Unit = { script += sql; spark.sql(sql); () }
      def span(): (Long, Long) = {
        val a = rnd.nextInt(300).toLong
        (a, a + 30L + rnd.nextInt(120))
      }
      // the model: the table as a multiset of (id, v, w) rows, w = None
      // before the ALTER adds the column and for rows written without it
      var model = Vector.empty[(Long, Long, Option[Long])]
      var widened = false
      def rows(a: Long, b: Long, v: Long => Long): Vector[(Long, Long, Option[Long])] =
        (a until b).map(id => (id, v(id), if (widened) Some(id * 3) else None)).toVector
      // the w column of an insert, once the table has it
      def w: String = if (widened) ", id * 3 AS w" else ""
      // always start with content so later verbs have something to chew
      run(s"INSERT INTO $cat.t SELECT id, id * $seed FROM range(0, 300)")
      model = rows(0L, 300L, _ * seed)
      val nOps = 5 + rnd.nextInt(3)
      val alterAt = rnd.nextInt(nOps)
      for (op <- 0 until nOps) (if (op == alterAt) 7 else rnd.nextInt(7)) match {
        case 0 =>
          val (a, b) = span()
          run(s"INSERT INTO $cat.t SELECT id, id + $seed$w FROM range($a, $b)")
          model ++= rows(a, b, _ + seed)
        case 1 =>
          val (a, b) = span()
          run(s"INSERT OVERWRITE TABLE $cat.t SELECT id, id$w FROM range($a, $b)")
          model = rows(a, b, identity)
        case 2 =>
          val (a, b) = span()
          run(s"UPDATE $cat.t SET v = v + 7 WHERE id >= $a AND id < $b")
          model = model.map { case r @ (id, v, x) =>
            if (id >= a && id < b) (id, v + 7, x) else r }
        case 3 =>
          val (a, b) = span()
          val (cols, vals) =
            if (widened) ("id, v, w", "s.id, s.v, s.w") else ("id, v", "s.id, s.v")
          run(s"""MERGE INTO $cat.t t
            USING (SELECT id, id * 2 AS v$w FROM range($a, $b)) s
            ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET v = s.v
            WHEN NOT MATCHED THEN INSERT ($cols) VALUES ($vals)""")
          val matched = model.map(_._1).toSet
          model = model.map { case r @ (id, _, x) =>
            if (id >= a && id < b) (id, id * 2, x) else r } ++
            rows(a, b, _ * 2).filterNot(r => matched.contains(r._1))
        case 4 =>
          val (a, b) = span()
          run(s"DELETE FROM $cat.t WHERE id >= $a AND id < $b")
          model = model.filterNot(r => r._1 >= a && r._1 < b)
        case 5 =>
          script += "-- compact"
          GraftCatalog.compact(dir)
        case 6 =>
          script += "-- zorder by (v, id)"
          GraftCatalog.compactZorder(dir, Seq("v", "id"), outFiles = 4)
        case 7 =>
          run(s"ALTER TABLE $cat.t ADD COLUMN w BIGINT")
          widened = true
      }
      val cur = GraftChangeFeed.currentSeq(dir)
      // probe the final version plus two random interior ones
      val probes = (Seq(cur) ++ Seq.fill(2)(1L + rnd.nextInt(cur.toInt)))
        .distinct
      for (k <- probes) {
        val feed = spark.read.format("graft.sources.GraftChangeFeed")
          .option("table", dir.toString)
          .option("fromSeq", "0").option("toSeq", k.toString).load()
        val mirror = applied(feed)
        val snap = spark.sql(s"SELECT id, v FROM $cat.t VERSION AS OF '$k'")
        val extra = mirror.exceptAll(snap).count()
        val missing = snap.exceptAll(mirror).count()
        assert(extra == 0L && missing == 0L,
          s"seed=$seed dv=$dvMode version=$k diverged " +
            s"(+$extra/-$missing)\n${script.mkString("\n")}")
      }
      // the minimal net feed applies to the same final state
      val netMirror = applied(
        GraftChangeFeed.net(spark, dir.toString, 0L, cur))
      val now = spark.sql(s"SELECT id, v FROM $cat.t")
      assert(netMirror.exceptAll(now).isEmpty && now.exceptAll(netMirror).isEmpty,
        s"seed=$seed net feed diverged\n${script.mkString("\n")}")
      // the final snapshot, every column, equals the model
      val wCol = if (widened) "w" else "CAST(NULL AS BIGINT)"
      val table = spark.sql(s"SELECT id, v, $wCol FROM $cat.t").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toVector
      val (extra, missing) = (table.diff(model).size, model.diff(table).size)
      assert(extra == 0 && missing == 0,
        s"seed=$seed dv=$dvMode final snapshot differs from the model " +
          s"(+$extra/-$missing)\n${script.mkString("\n")}")
      spark.sql(s"DROP TABLE $cat.t")
    }
  }
}
