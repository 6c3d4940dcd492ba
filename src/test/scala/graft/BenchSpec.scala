package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Record, Route}

/** Bench's record routing and scorecard, pinned as tables. Pure
  * functions: no SparkSession, no files. */
class BenchSpec extends AnyFunSuite {
  private val sf01 = "/data/sf0.1"
  private val sf001 = "/data/sf0.001"

  private def rec(file: String, sf: String, degraded: Boolean = false,
                  queries: Map[String, Double] = Map.empty) = Record(file, sf, degraded, queries)

  /** Route a run against a set of records on disk. */
  private def route(sfDir: String, disk: Seq[Record], filtered: Boolean,
                    degraded: Boolean = false, recordOverride: Option[String] = None) = {
    val byFile = disk.map(r => r.file -> r).toMap
    Bench.route(sfDir, filtered, degraded, recordOverride, byFile.get)
  }
  private def target(sfDir: String, disk: Seq[Record], filtered: Boolean = false,
                     degraded: Boolean = false, recordOverride: Option[String] = None) =
    route(sfDir, disk, filtered, degraded, recordOverride).map(_.record)

  test("a degraded run never overwrites a clean record") {
    val clean = rec("BENCH_LOCAL.json", sf01)
    val rows = Seq(
      // (records on disk, filtered, degraded) -> record file
      (Seq(clean), false, false) -> "BENCH_LOCAL.json",
      (Seq(clean), false, true) -> "BENCH_LOCAL_DEGRADED.json",
      (Seq(clean.copy(degraded = true)), false, true) -> "BENCH_LOCAL.json",
      (Seq.empty, false, true) -> "BENCH_LOCAL.json",
      (Seq(rec("BENCH_LOCAL_FILTERED.json", sf01)), true, true) ->
        "BENCH_LOCAL_FILTERED_DEGRADED.json",
      // the degraded file is SF-segregated too
      (Seq(clean, rec("BENCH_LOCAL_DEGRADED.json", sf001, degraded = true)), false, true) ->
        "BENCH_LOCAL_DEGRADED_sf0.1.json")
    for (((disk, filtered, degraded), want) <- rows)
      assert(target(sf01, disk, filtered, degraded) == Right(want), (disk, filtered, degraded))
  }

  test("a filtered run never claims BENCH_LOCAL.json") {
    for (disk <- Seq(Seq.empty, Seq(rec("BENCH_LOCAL.json", sf01))))
      assert(target(sf01, disk, filtered = true) == Right("BENCH_LOCAL_FILTERED.json"))
    assert(target(sf001, Seq(rec("BENCH_LOCAL_FILTERED.json", sf01)), filtered = true) ==
      Right("BENCH_LOCAL_FILTERED_sf0.001.json"))
  }

  test("a different-SF run gets its own _<sfTag> file") {
    val disk = Seq(rec("BENCH_LOCAL.json", sf01))
    assert(target(sf001, disk) == Right("BENCH_LOCAL_sf0.001.json"))
    assert(target(sf001, disk :+ rec("BENCH_LOCAL_sf0.001.json", sf001)) ==
      Right("BENCH_LOCAL_sf0.001.json"))
    // same leaf, other parent directory: refused, never diverted
    val other = target(sf001, disk :+ rec("BENCH_LOCAL_sf0.001.json", "/elsewhere/sf0.001"))
    assert(other.left.exists(_.contains("/elsewhere/sf0.001")))
  }

  test("an override cannot claim BENCH_LOCAL* (but DRIVERSHAPE), a ledger or an existing file") {
    val disk = Seq(rec("BENCH_LOCAL.json", sf01), rec("BENCH_OLD.json", sf01),
      rec("BENCH_LOCAL_DRIVERSHAPE.json", sf01))
    val refused = Seq("BENCH_LOCAL.json", "BENCH_LOCAL_FILTERED.json", "out/BENCH_LOCAL_sf0.1.json",
      "BASELINE.json", "SCALING.json", "PROGRESS.json", "CORRECTNESS_r22.json", "PERF_r22.json",
      "VERIFY_r22.json", "BENCH_r22.json", "BENCH_R22_MYRUN.json", "BENCH_OLD.json")
    for (name <- refused)
      assert(target(sf01, disk, recordOverride = Some(name)).isLeft, name)
    val accepted = Seq(
      // (override, degraded, extra records on disk) -> record file
      ("BENCH_NEW.json", false, Nil) -> "BENCH_NEW.json",
      ("BENCH_LOCAL_DRIVERSHAPE.json", false, Nil) -> "BENCH_LOCAL_DRIVERSHAPE.json",
      ("BENCH_LOCAL_DRIVERSHAPE.json", true, Nil) -> "BENCH_LOCAL_DRIVERSHAPE_DEGRADED.json",
      ("out/BENCH_LOCAL_DRIVERSHAPE.json", true, Nil) ->
        "out/BENCH_LOCAL_DRIVERSHAPE_DEGRADED.json")
    for (((name, degraded, extra), want) <- accepted)
      assert(target(sf01, disk ++ extra, degraded = degraded, recordOverride = Some(name)) ==
        Right(want), name)
  }

  test("a degraded DRIVERSHAPE run does not overwrite an earlier degraded one") {
    val disk = Seq(rec("BENCH_LOCAL_DRIVERSHAPE_DEGRADED.json", sf01, degraded = true))
    val r = target(sf01, disk, degraded = true,
      recordOverride = Some("BENCH_LOCAL_DRIVERSHAPE.json"))
    assert(r.left.exists(_.contains("append-new")))
  }

  test("the override name the refusal message offers is one the guards accept") {
    val msg = target(sf01, Nil, recordOverride = Some("BENCH_LOCAL.json")).swap
      .getOrElse(fail("BENCH_LOCAL.json was not refused"))
    assert(msg.contains(s"(e.g. ${Bench.OverrideExample})"))
    assert(target(sf01, Nil, recordOverride = Some(Bench.OverrideExample)) ==
      Right(Bench.OverrideExample))
  }

  test("the baseline is the same-SF canonical record; a filtered run gets none") {
    val canonical = rec("BENCH_LOCAL.json", sf01)
    val sibling = rec("BENCH_LOCAL_sf0.001.json", sf001)
    def baseline(sfDir: String, disk: Seq[Record], filtered: Boolean = false) =
      route(sfDir, disk, filtered).map(_.baseline)
    assert(baseline(sf01, Seq(canonical)) == Right(Some("BENCH_LOCAL.json")))
    assert(baseline(sf01, Seq(canonical), filtered = true) == Right(None))
    assert(baseline(sf001, Seq(canonical, sibling)) == Right(Some("BENCH_LOCAL_sf0.001.json")))
    assert(baseline(sf001, Seq(canonical)) == Right(None))
    assert(route(sf001, Seq(canonical, sibling), filtered = true) ==
      Right(Route("BENCH_LOCAL_FILTERED.json", None)))
  }

  private val mapper = new ObjectMapper()
  private def keys(n: Int) = (1 to n).map(i => s"k$i")
  private def ratified(sf: Option[String], queries: Map[String, Double]) = {
    val node = mapper.createObjectNode()
    sf.foreach(node.put("sf", _))
    val qs = node.putObject("queries")
    queries.foreach { case (k, v) => qs.put(k, v) }
    node
  }

  test("a ratified block with no sf stamp, or another one, disables the ratified scorecard") {
    val bars = keys(25).map(_ -> 1.0).toMap
    val timings = keys(25).map(_ -> 3.0)
    for (stamp <- Seq(None, Some("sf0.01"))) {
      val card = Bench.scorecard(timings, ratified(stamp, bars), sf01, None, degraded = false)
      assert(card("ratified_ratio") == None, stamp)
      assert(card("worst5_vs_ratified") == Map.empty, stamp)
    }
    val card = Bench.scorecard(timings, ratified(Some("sf0.1"), bars), sf01, None,
      degraded = false)
    assert(card("ratified_ratio") ==
      Some(Map("n" -> 25, "median" -> 3.0, "p90" -> 3.0, "n_over2x" -> 25)))
    assert(card("worst5_vs_ratified").asInstanceOf[Map[_, _]].size == 5)
  }

  test("fewer than 20 ratios give null") {
    val bars = ratified(Some("sf0.1"), keys(20).map(_ -> 1.0).toMap)
    def card(n: Int) = {
      val ts = keys(n).map(_ -> 2.0)
      Bench.scorecard(ts, bars, sf01, Some(rec("BENCH_LOCAL.json", sf01, queries = ts.toMap)),
        degraded = false)
    }
    assert(card(19)("ratified_ratio") == None)
    assert(card(19)("baseline_ratio") == None)
    assert(card(20)("ratified_ratio") != None)
    assert(card(20)("baseline_ratio") ==
      Some(Map("n" -> 20, "p10" -> 1.0, "median" -> 1.0, "p90" -> 1.0)))
  }

  test("worst-5 ranks by ratio and skips failed or unbaselined keys") {
    val base = rec("BENCH_LOCAL.json", sf01,
      queries = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 0.0))
    val timings = Seq("a" -> 1.5, "b" -> 3.0, "c" -> -1.0, "d" -> 9.0, "e" -> 9.0)
    val card = Bench.scorecard(timings, mapper.missingNode(), sf01, Some(base),
      degraded = false)
    assert(card("worst5_vs_baseline").asInstanceOf[Map[String, Double]].toSeq ==
      Seq("b" -> 3.0, "a" -> 1.5))
  }

  test("only a degraded run embeds the clean baseline's scorecard as canonical_ref") {
    val bars = ratified(Some("sf0.1"), Map("a" -> 1.0))
    val clean = rec("BENCH_LOCAL.json", sf01, queries = Map("a" -> 2.0, "b" -> -1.0))
    val timings = Seq("a" -> 5.0)
    assert(Bench.scorecard(timings, bars, sf01, Some(clean), degraded = false)(
      "canonical_ref") == None)
    assert(Bench.scorecard(timings, bars, sf01, Some(clean.copy(degraded = true)),
      degraded = true)("canonical_ref") == None)
    assert(Bench.scorecard(timings, bars, sf01, Some(clean), degraded = true)("canonical_ref") ==
      Some(Map("file" -> "BENCH_LOCAL.json", "total" -> 2.0, "ratified_ratio" -> None,
        "worst5_vs_ratified" -> Map("a" -> 2.0))))
  }
}
