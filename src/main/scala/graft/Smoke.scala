package graft

import scala.util.control.NonFatal

/** Developer smoke main: drives the driver contract the way the harness
  * does — flagship entry, a named query, the parameterized pair — and
  * prints what a user sees. `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("local[4]")

    val e = SparkEntry.entry(spark)
    println(s"ENTRY ROWS: ${e.count()}")
    e.show(5, false)

    try SparkEntry.queries("rel_q1_pricing")(spark, "/root/testdata/nope").collect()
    catch { case NonFatal(ex) =>
      println(s"BAD-DIR ERROR: ${ex.getClass.getSimpleName}: ${String.valueOf(ex.getMessage).take(120)}")
    }

    println("grin: " + SparkEntry.queries("tw_q1_emoji_grin")(spark, "").collect().mkString(" | "))
    println("fire: " + SparkEntry.queries("tw_q1_emoji_fire")(spark, "").collect().mkString(" | "))
    spark.stop()
  }
}
