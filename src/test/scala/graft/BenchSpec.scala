package graft

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's reference bars and scorecard, pinned as tables. No
  * SparkSession; reference files are written to a temp dir. */
class BenchSpec extends AnyFunSuite {
  private val sf01 = "/data/sf0.1"

  private val mapper = new ObjectMapper()
  private val dir = Files.createTempDirectory("bench-spec")
  private def keys(n: Int) = (1 to n).map(i => s"k$i")

  /** A reference file in Bench's record shape: `sf` plus `queries`. */
  private def reference(sf: Option[String], queries: Map[String, Double]): Path = {
    val node = mapper.createObjectNode()
    sf.foreach(node.put("sf", _))
    val qs = node.putObject("queries")
    queries.foreach { case (k, v) => qs.put(k, v) }
    Files.writeString(Files.createTempFile(dir, "reference", ".json"),
      mapper.writeValueAsString(node))
  }

  test("the reference counts only at its own SF; a filtered run gets none") {
    val bars = Map("a" -> 1.0)
    val rows = Seq(
      // (reference sf, run sf, filtered) -> bars
      (Some(sf01), sf01, false) -> bars,
      (Some("/elsewhere/sf0.1"), sf01, false) -> bars,
      (Some(sf01), "/data/sf0.001", false) -> Map.empty,
      (Some(sf01), sf01, true) -> Map.empty)
    for (((refSf, runSf, filtered), want) <- rows)
      assert(Bench.referenceBars(reference(refSf, bars), runSf, filtered) == want,
        (refSf, runSf, filtered))
  }

  test("a ratified block with no sf stamp, or another one, disables the ratified scorecard") {
    val bars = keys(25).map(_ -> 1.0).toMap
    val timings = keys(25).map(_ -> 3.0)
    def card(stamp: Option[String]) =
      Bench.scorecard(timings, Bench.referenceBars(reference(stamp, bars), sf01, filtered = false))
    for (stamp <- Seq(None, Some("/data/sf0.01"))) {
      assert(card(stamp)("ratified_ratio") == None, stamp)
      assert(card(stamp)("worst5_vs_ratified") == Map.empty, stamp)
    }
    assert(card(Some(sf01))("ratified_ratio") ==
      Some(Map("n" -> 25, "median" -> 3.0, "p90" -> 3.0, "n_over2x" -> 25)))
    assert(card(Some(sf01))("worst5_vs_ratified").asInstanceOf[Map[_, _]].size == 5)
  }

  test("a missing reference file gives a null ratified_ratio and an empty worst-5") {
    val bars = Bench.referenceBars(dir.resolve("absent.json"), sf01, filtered = false)
    assert(bars.isEmpty)
    val card = Bench.scorecard(keys(25).map(_ -> 1.0), bars)
    assert(card("ratified_ratio") == None)
    assert(card("worst5_vs_ratified") == Map.empty)
  }

  test("fewer than 20 ratios give null") {
    val bars = keys(20).map(_ -> 1.0).toMap
    def card(n: Int) = Bench.scorecard(keys(n).map(_ -> 2.0), bars)
    assert(card(19)("ratified_ratio") == None)
    assert(card(20)("ratified_ratio") ==
      Some(Map("n" -> 20, "median" -> 2.0, "p90" -> 2.0, "n_over2x" -> 0)))
  }

  test("worst-5 ranks by ratio and skips failed or unbaselined keys") {
    val bars = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 0.0)
    val timings = Seq("a" -> 1.5, "b" -> 3.0, "c" -> -1.0, "d" -> 9.0, "e" -> 9.0)
    assert(Bench.scorecard(timings, bars)("worst5_vs_ratified")
      .asInstanceOf[Map[String, Double]].toSeq == Seq("b" -> 3.0, "a" -> 1.5))
  }
}
