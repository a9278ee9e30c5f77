package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funspec.AnyFunSpec

/** Pins the Bench JSON line at future catalog scale
  * (the r8 cap lesson: both recorded scales had silently degraded to
  * the bare map, shedding the pass/GC/heap diagnostic trio). The
  * contract under test: ANY catalog size renders inside
  * [[BenchLine.MaxLen]] with the trio intact, shedding only the
  * fastest queries into a count+sum aggregate.
  */
class BenchLineSpec extends AnyFunSpec {
  private val mapper = new ObjectMapper()

  /** Synthetic suite: realistic value mix — a slow head and a
    * sub-second tail (deterministic, no RNG).
    */
  private def synth(n: Int): Seq[(String, Double)] =
    (1 to n).map { i =>
      val v =
        if (i % 29 == 0) 3.0 + (i % 7) * 0.5 // slow head
        else if (i % 5 == 0) 1.0 + (i % 3) * 0.3
        else 0.1 + (i % 4) * 0.1 // fast tail
      (s"q${i}_synthetic", v)
    }

  private def renderN(n: Int): String =
    BenchLine.render(
      total = synth(n).map(_._2).sum,
      results = synth(n),
      sfName = "sf0.1",
      startup = 7.123,
      cpus = "32",
      wall = 300.456,
      passSec = Seq(160.2, 140.8),
      passGc = Seq(12.3, 11.1),
      peakMb = 24576L)

  it("renders 200 queries inside the cap with the telemetry trio intact") {
    val line = renderN(200)
    assert(line.length <= BenchLine.MaxLen, s"len ${line.length}")
    val j = mapper.readTree(line) // parses as one JSON object
    assert(j.get("metric").asText() == "pipeline_total")
    assert(j.get("unit").asText() == "sec")
    assert(j.get("sf").asText() == "sf0.1")
    // the trio must never be shed again
    assert(j.has("pass_sec") && j.get("pass_sec").size() == 2)
    assert(j.has("gc_sec") && j.get("gc_sec").size() == 2)
    assert(j.has("peak_mb") && j.get("peak_mb").asLong() == 24576L)
    // shed tail is accounted for: kept + rest_n = catalog size
    val kept = j.get("queries").size()
    val restN = if (j.has("rest_n")) j.get("rest_n").asInt() else 0
    assert(kept + restN == 200)
    assert(kept > 0, "terminal rung must keep the slow head, not drop the map")
  }

  it("sheds only the fastest queries; every kept value >= every shed one") {
    val line = renderN(200)
    val j = mapper.readTree(line)
    assert(j.has("rest_n"), "200 queries must overflow the full-map rungs")
    val keptVals = {
      val it = j.get("queries").elements()
      val b = Seq.newBuilder[Double]
      while (it.hasNext) b += it.next().asDouble()
      b.result()
    }
    val restSec = j.get("rest_sec").asDouble()
    val restN = j.get("rest_n").asInt()
    // the slowest-K cut: mean shed value can't exceed the min kept value
    assert(restSec / restN <= keptVals.min + 1e-9)
    // and the aggregate preserves the suite total to 1-dp rounding
    val total = synth(200).map(_._2).sum
    assert(math.abs(keptVals.sum + restSec - total) < 0.06 + 0.005 * 200)
  }

  it("small catalogs keep every query and no rest_n") {
    val line = renderN(16)
    assert(line.length <= BenchLine.MaxLen)
    val j = mapper.readTree(line)
    assert(j.get("queries").size() == 16)
    assert(!j.has("rest_n") && !j.has("rest_sec"))
    assert(j.has("pass_sec") && j.has("gc_sec") && j.has("peak_mb"))
  }

  it("today's catalog size (172) keeps the trio — the r8 regression") {
    val line = renderN(172)
    assert(line.length <= BenchLine.MaxLen)
    val j = mapper.readTree(line)
    assert(j.has("pass_sec") && j.has("gc_sec") && j.has("peak_mb"))
    val kept = j.get("queries").size()
    val restN = if (j.has("rest_n")) j.get("rest_n").asInt() else 0
    assert(kept + restN == 172)
  }

  it("core_min_sec/core_med_sec ride every rung, including the terminal slowest-K") {
    // 500 queries forces the terminal rung; the core pair must survive
    val big = synth(500)
    val line = BenchLine.render(big.map(_._2).sum, big, "sf0.1", 7.1,
      "32", 300.4, Seq(160.2, 140.8), Seq(12.3, 11.1), 24576L,
      coreMin = 4.32, coreMed = 5.01)
    assert(line.length <= BenchLine.MaxLen)
    val j = mapper.readTree(line)
    assert(j.has("rest_n"), "500 queries must hit the terminal rung")
    assert(j.get("core_min_sec").asDouble() == 4.32)
    assert(j.get("core_med_sec").asDouble() == 5.01)
    // and the default (-1) renders no core fields at all
    assert(!mapper.readTree(renderN(16)).has("core_min_sec"))
  }

  it("shortens keys to qNN and fails loudly on a prefix collision") {
    val line = BenchLine.render(1.0,
      Seq("q01_row_counts" -> 0.5, "q172_video_frames" -> 0.5),
      "sf0.001", 1.0, "4", 2.0, Seq(1.0, 1.0), Seq(0.1, 0.1), 128L)
    val j = mapper.readTree(line)
    assert(j.get("queries").has("q1") && j.get("queries").has("q172"))
    assertThrows[IllegalArgumentException] {
      BenchLine.render(1.0,
        Seq("q01_row_counts" -> 0.5, "q1_dup" -> 0.5),
        "sf0.001", 1.0, "4", 2.0, Seq(1.0, 1.0), Seq(0.1, 0.1), 128L)
    }
  }
}
