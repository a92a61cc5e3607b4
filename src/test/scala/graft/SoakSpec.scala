package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Every soak probe's gates and timed bodies run through [[Soak.run]] at
  * one small scale that still fits its closed form, and the harness
  * stays the only one: one `Soak` object, one measurement bracket. */
class SoakSpec extends SparkSpec {

  /** One small scale per probe (`catalog_decade` at its smallest real
    * scale; `topk_spill`'s scale is the sort path's worst-case budget). */
  private val small = Map(
    "graph_decade" -> 512L, "ann_decades" -> 2000L, "join_decades" -> 1000L,
    "basket_decade" -> 64L, "stream_decade" -> 7200L, "text_decade" -> 1000L,
    "catalog_decade" -> 200000L, "topk_spill" -> 2L)

  private lazy val base = TempDirs.create("graft-soak-spec").toString

  test("the spec covers every probe, in table order") {
    assert(Soak.probes.map(_.name) == Seq("graph_decade", "ann_decades",
      "join_decades", "basket_decade", "stream_decade", "text_decade",
      "catalog_decade", "topk_spill"))
    assert(small.keySet == Soak.probes.map(_.name).toSet)
  }

  Soak.probes.foreach { p =>
    test(s"${p.name}: gates pass, one JSON line with a cell and a ratio per " +
        "timed query, session conf unchanged") {
      val n = small(p.name)
      val dir = if (p.name == "topk_spill") PlanSnapshot.PinnedSf else base
      val conf = spark.conf.getAll
      val out = new java.io.ByteArrayOutputStream
      val line = Console.withOut(out)(Soak.run(spark, p.name, Seq(n), dir))
      assert(out.toString("UTF-8").linesIterator.toSeq == Seq(line))
      assert(spark.conf.getAll == conf)

      val json = new ObjectMapper().readTree(line)
      assert(json.get("probe").asText == p.name)
      val keys = json.fieldNames().asScala.toSeq.filter(_ != "probe")
      val (ratios, cells) = keys.partition(_.startsWith("ratio_"))
      val suffix = "_" + p.label(n)
      assert(cells.nonEmpty && cells.forall(_.endsWith(suffix)), cells)
      assert(ratios.map(_.stripPrefix("ratio_")).toSet ==
        cells.map(_.stripSuffix(suffix)).toSet)
      assert(ratios.size == ratios.distinct.size)
      cells.foreach { c =>
        Seq("sec", "shuffle", "input", "spill", "cpu_ms").foreach { f =>
          assert(json.get(c).get(f).isNumber, s"$c.$f")
        }
      }
    }
  }

  test("an unknown probe name fails and lists the valid names") {
    val e = intercept[IllegalArgumentException](
      Soak.select(Seq("graph_decade", "no_such_probe")))
    assert(e.getMessage.contains("no_such_probe"))
    Soak.probes.foreach(p => assert(e.getMessage.contains(p.name)))
    intercept[IllegalArgumentException](
      Soak.run(spark, "no_such_probe", Seq(1L), base))
  }

  test("one soak harness and one measurement bracket in main source") {
    val soaks = MainSources.files.flatMap { p =>
      """\bobject\s+(Soak\w*)""".r.findAllMatchIn(MainSources.code(p)).map(_.group(1))
    }
    assert(soaks == Seq("Soak"), soaks)
    val drains = MainSources.files.map { p =>
      p.getFileName.toString ->
        "drainListenerBus\\(".r.findAllMatchIn(MainSources.code(p)).size
    }.filter(_._2 > 0)
    val bench = MainSources.code(java.nio.file.Paths.get("src/main/scala/graft/Bench.scala"))
    val measure = """(?s)def measure\[.*?\n  \}""".r.findFirstIn(bench).getOrElse("")
    val inBracket = "drainListenerBus\\(".r.findAllMatchIn(measure).size
    assert(inBracket == 2, measure)
    // the definition plus the bracket's two calls, nothing else
    assert(drains == Seq("Bench.scala" -> (inBracket + 1)), drains)
  }
}
