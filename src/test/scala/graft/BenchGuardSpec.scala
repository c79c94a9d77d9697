package graft

import graft.tools.BenchGuard
import org.scalatest.funsuite.AnyFunSuite

/** Parser semantics for the bench regression gate: the budget file, a
  * full Bench output line, and the driver-artifact fallback (log
  * captures keep only the final ~2k chars, which can truncate the line
  * BEFORE the "queries" key — BENCH_r04.json is exactly that shape).
  */
class BenchGuardSpec extends AnyFunSuite {

  test("parseFlat reads name:number pairs and skips _comment keys") {
    val parsed = BenchGuard.parseFlat(
      """{"_comment": "ceilings, 2.5s floor", "q01_pricing_summary": 5.4,
        | "c14_recover_with": 2.5}""".stripMargin)
    assert(parsed == Map(
      "q01_pricing_summary" -> 5.4, "c14_recover_with" -> 2.5))
  }

  test("extractQueries pulls the queries object out of a full bench line") {
    val line = """{"metric":"total","unit":"sec","sf":"/d/sf0.1",""" +
      """"cpus":32,"max_heap_gb":17.18,"java":"17.0.20",""" +
      """"queries":{"q01_pricing_summary":2.687,"s17_stream_checkpoint_recovery":1.703},""" +
      """"errors":{},"value":147.406}"""
    // env fields (cpus, max_heap_gb) must NOT leak in as query timings
    assert(BenchGuard.extractQueries(line) == Map(
      "q01_pricing_summary" -> 2.687,
      "s17_stream_checkpoint_recovery" -> 1.703))
  }

  test("artifact clipped AFTER the queries key still gets a partial check") {
    // a killed run can clip the line before the object ever closes; the
    // strict path would substring to a missing '}' — must fall back, not
    // crash
    val clipped =
      """{"metric":"total","queries":{"q01_pricing_summary":2.687,"q02_join_ag"""
    assert(BenchGuard.extractQueries(clipped) ==
      Map("q01_pricing_summary" -> 2.687))
  }

  test("a pair clipped mid-number is dropped, not read as a smaller timing") {
    // "n43_pagerank":10.42 clipped to ...":1 parses as a VALID smaller
    // number — accepting it could silently pass an over-budget query;
    // only a pair whose number is followed by some character is trusted
    val clipped =
      """{"metric":"total","queries":{"q01_pricing_summary":2.687,"n43_pagerank":1"""
    assert(BenchGuard.extractQueries(clipped) ==
      Map("q01_pricing_summary" -> 2.687))
  }

  test("truncated driver artifact falls back to query-shaped pairs") {
    // the r4 shape: tail begins mid-map, escaped quotes, no "queries" key
    val truncated = """{"n": 4, "rc": 0, "cpus": 32, "tail":
      "\":0.742,\"q05_anti_join\":0.425,\"q06_outer_join\":1.107},\"errors\":{},\"value\":166.178}\n"}"""
    val parsed = BenchGuard.extractQueries(truncated)
    assert(parsed == Map(
      "q05_anti_join" -> 0.425, "q06_outer_join" -> 1.107))
  }

  test("round-trip: a 241-query jsonLine clipped to its last 2kB still yields timings") {
    // the r12 failure, pinned: the driver keeps only the final ~2 kB of
    // stdout, and that round's grown retimed and host receipts pushed
    // the whole queries map out of the tail — BenchGuard crashed on the
    // committed artifact. The key-order contract (queries second-to-
    // last, value last) means ANY tail clip now lands inside the
    // queries map; this round-trips a registry-sized line with a full
    // per-query profile, fully retimed entries and a calibration object
    // through exactly that clip.
    val profile = Some(scala.collection.immutable.VectorMap.from(
      QueryProfile.keys.zipWithIndex.map { case (k, i) => k -> (i + 1) * 1.234 }))
    val plain = (1 to 229).map(i =>
      Bench.Timing(f"n$i%03d_synthetic_query_name", i / 100.0,
        profile = profile))
    val flapped = (1 to 12).map(i =>
      Bench.Timing(f"s$i%02d_retimed_query_name", 2.0,
        firstPass = Some(9.987), retry = Some(8.765), profile = profile,
        retryProfile = profile, retry2 = Some(2.0), retry2Profile = profile))
    val cal = Bench.Calibration(Seq("spin_start" -> 0.21,
      "scan_start" -> 0.34, "spin_mid" -> 0.22, "scan_mid" -> 0.35,
      "spin_end" -> 0.21, "scan_end" -> 0.36), Some(1.042))
    val results = plain ++ flapped
    val line = Bench.jsonLine(results, "/data/sf0.1", Some(cal))
    assert(line.contains("\"profile\":{\"n001_synthetic_query_name\":" +
      "{\"scheduler.jobs\":1.234,"), "the first query's profile leads the object")
    assert("\"scheduler.jobs\":".r.findAllIn(line).size == results.size,
      "every query carries its profile")
    assert(line.indexOf("\"profile\":{") < line.indexOf("\"retimed\":{"),
      "profile must precede retimed")
    assert(line.indexOf("\"calibration\":{") < line.indexOf("\"queries\":{"),
      "calibration must precede the queries map")
    assert(line.indexOf("\"queries\":{") > line.lastIndexOf("\"retry2\":"),
      "queries must be the last object")
    assert(("\"queries\":\\{[^{}]*\\},\"n_queries\":" + results.size +
      ",\"value\":[0-9.]+\\}$").r.findFirstIn(line).isDefined,
      s"queries, n_queries, value must close the line: ${line.takeRight(60)}")
    val full = BenchGuard.extractQueries(line)
    assert(full.size == results.size, "full line must carry every query")
    val clipped = line.takeRight(2048)
    val recovered = BenchGuard.extractQueries(clipped)
    assert(recovered.nonEmpty, "2kB tail clip recovered no timings")
    // every recovered value matches the full line's confirmed value
    assert(recovered.forall { case (k, v) => full(k) == v },
      "clip-recovered timings disagree with the full line")
    // the LAST query emitted must survive any tail clip by construction
    assert(recovered.contains(results.last.name))
    // and the driver's headline metric survives alongside
    assert(clipped.contains("\"value\":"))
  }

  test("n_queries survives any tail clip and labels partial replays") {
    val results = (1 to 50).map(i =>
      Bench.Timing(f"n$i%03d_synthetic_query_name", i / 10.0))
    val line = Bench.jsonLine(results, "/sf", None)
    // the fixed-size suffix after the queries map: n_queries then value
    assert(line.takeRight(40).contains("\"n_queries\":50"))
    assert(BenchGuard.extractNQueries(line) == 50)
    assert(BenchGuard.extractNQueries(line.takeRight(60)) == 50,
      "a 60-char tail clip must still carry the registry size")
    // pre-r14 artifacts have no field — the replayer falls back
    assert(BenchGuard.extractNQueries("""{"queries":{"n01_x":1.0}}""") == -1)
    // and n_queries itself must never read as a query timing
    assert(!BenchGuard.extractQueries(line).contains("n_queries"))
  }

  test("passLine labels partial clipped replays as PARTIAL — pinned wording") {
    assert(BenchGuard.passLine(249, 249, Some("bench_last.json")) ==
      "BenchGuard PASS: 249 queries within budget (replayed bench_last.json)")
    assert(BenchGuard.passLine(61, 249, Some("BENCH_r13.json")) ==
      "BenchGuard PASS (PARTIAL: 61/249 recoverable — clipped artifact; " +
        "replay bench_last.json for the full verdict)")
    // live runs never carry the PARTIAL label — coverage drift there is
    // a registry/budget failure, not a clip
    assert(BenchGuard.passLine(249, 249, None) ==
      "BenchGuard PASS: 249 queries within budget")
  }

  test("failLine carries checked/total coverage — pinned wording") {
    // the r14 clipped replay printed "2 problem(s) across 59 checked
    // queries" with nothing saying 59 was 22% of the artifact's 268
    assert(BenchGuard.failLine(2, 59, 268) ==
      "BenchGuard: 2 problem(s) across 59/268 checked queries (PARTIAL: " +
        "clipped artifact — replay bench_last.json for the full verdict)")
    assert(BenchGuard.failLine(1, 268, 268) ==
      "BenchGuard: 1 problem(s) across 268/268 checked queries")
  }

  test("an over-budget line carries the artifact's calibration ratio") {
    val breach = Bench.Timing("n57_dedup_keep_best", 33.66,
      firstPass = Some(33.66), retry = Some(45.64), retry2 = Some(41.2))
    val line = Bench.jsonLine(Seq(breach, Bench.Timing("n22_ok", 2.0)), "/sf",
      Some(Bench.Calibration(Seq("spin_start" -> 0.26, "scan_start" -> 0.41),
        Some(1.31))))
    val ratio = BenchGuard.extractCalibration(line).get("ratio")
    assert(ratio == Some(1.31))
    assert(BenchGuard.overBudgetLine("n57_dedup_keep_best", 33.66, 27.5, ratio)
      == "n57_dedup_keep_best OVER BUDGET: 33.66s > ceiling 27.50s " +
        "— calibration ratio 1.31")
    // an artifact without calibration (every pre-existing record) keeps
    // the old line, suffix-free
    assert(BenchGuard.extractCalibration(
      """{"queries":{"n01_x":1.0},"value":1.0}""").get("ratio").isEmpty)
    assert(BenchGuard.overBudgetLine("n01_x", 3.0, 2.5, None) ==
      "n01_x OVER BUDGET: 3.00s > ceiling 2.50s")
    // the calibration and retry2 fields must not corrupt timing extraction
    assert(BenchGuard.extractQueries(line) ==
      Map("n57_dedup_keep_best" -> 33.66, "n22_ok" -> 2.0))
  }

  test("extractQueries never reads a calibration key as a query timing") {
    val cal = Bench.Calibration(Seq("spin_start" -> 0.2, "scan_start" -> 0.3,
      "spin_mid" -> 0.2, "scan_mid" -> -1.0), Some(0.97))
    val line = Bench.jsonLine(Seq(Bench.Timing("q01_pricing_summary", 2.5),
      Bench.Timing("s03_stream_dedup", 1.5)), "/sf", Some(cal))
    assert(BenchGuard.extractQueries(line) ==
      Map("q01_pricing_summary" -> 2.5, "s03_stream_dedup" -> 1.5))
    // truncated fallback: clip inside the queries map, so every
    // name:number pair in the content is a candidate — calibration
    // readings (scan_*/spin_*, ratio) included
    val clipped = line.take(line.indexOf("\"s03_stream_dedup\""))
    assert(clipped.contains("\"scan_start\":0.300"))
    assert(BenchGuard.extractQueries(clipped) ==
      Map("q01_pricing_summary" -> 2.5))
    // clip inside the calibration object itself: no query pair survives,
    // and the readings still do not pass for timings
    val calOnly = line.take(line.indexOf("\"spin_mid\""))
    assert(BenchGuard.extractQueries(calOnly).isEmpty)
  }

  test("confirm: 0 re-times under the ceiling, at most 2 over it, min kept") {
    def drive(first: Double, retimes: Double*): (Bench.Timing, Int, Int) = {
      val it = retimes.iterator
      var calls = 0
      var coolDowns = 0
      val t = Bench.confirm(Bench.Timing("q01_x", first), 5.0,
        () => { calls += 1; (it.next(), Map.empty) }, () => coolDowns += 1)
      (t, calls, coolDowns)
    }
    // at or under the ceiling: untouched, no re-time
    val (under, c0, _) = drive(5.0)
    assert(c0 == 0 && under == Bench.Timing("q01_x", 5.0))
    // over, isolated re-time rescues: one re-time, no cool-down
    val (rescued, c1, w1) = drive(9.0, 2.0)
    assert(c1 == 1 && w1 == 0 && rescued.secs == 2.0)
    assert(rescued.firstPass == Some(9.0) && rescued.retry == Some(2.0) &&
      rescued.retry2.isEmpty)
    // still over: cool-down, one spaced re-time, minimum of three kept
    val (spaced, c2, w2) = drive(9.0, 7.0, 4.0)
    assert(c2 == 2 && w2 == 1 && spaced.secs == 4.0 &&
      spaced.retry2 == Some(4.0))
    val (stands, c3, _) = drive(6.5, 8.0, 7.0)
    assert(c3 == 2 && stands.secs == 6.5, "a real breach stays over")
    // a failed first pass is never re-timed
    val failed = Bench.Timing("q01_x", -1.0, err = Some("boom"))
    assert(Bench.confirm(failed, 5.0, () => fail("re-timed a failure")) ==
      failed)
  }

  test("sweepOrder: pinned names keep their slots, unknown names run last by name") {
    // Bench.sweepOrder reads sweep_order.json from the working
    // directory; registered-but-unpinned names (a hypothetical fresh
    // query) must sort AFTER every pinned one, alphabetically among
    // themselves — the no-reshuffle growth contract
    val pinnedFirst = Bench.sweepOrder(
      Seq("zz_unpinned_b", "c01_map_project", "zz_unpinned_a",
        "q01_pricing_summary"))
    assert(pinnedFirst.take(2) ==
      Seq("c01_map_project", "q01_pricing_summary"),
      s"pinned slots must lead: $pinnedFirst")
    assert(pinnedFirst.drop(2) == Seq("zz_unpinned_a", "zz_unpinned_b"),
      s"unpinned names must trail in name order: $pinnedFirst")
  }

  test("a clip with no flat query pair falls back to retimed first/retry minima") {
    // the r12 committed-artifact shape: the tail window held only the
    // retimed object — name:{...} entries the flat-pair regex correctly
    // refuses. The last-resort fallback reads the entry's minimum,
    // which is exactly the confirmed value Bench.run recorded in
    // "queries".
    val tail = """st_gc_ms":512},"retimed":{"n58_three_stage_curation":{"first":108.7,"retry":12.1,"first_gc_ms":88},"w03_session_windows":{"first":5.04,"retry":3.02}},"storm":{"kind":"jvm_range_sum","baseline":0.112}"""
    assert(BenchGuard.extractQueries(tail) == Map(
      "n58_three_stage_curation" -> 12.1, "w03_session_windows" -> 3.02))
    // current entries carry the spaced re-time too
    val spaced = Bench.jsonLine(Seq(Bench.Timing("n89_x", 4.0,
      firstPass = Some(9.0), retry = Some(7.0), retry2 = Some(4.0))), "/sf")
    val retimedOnly = spaced.substring(spaced.indexOf("\"retimed\""),
      spaced.indexOf("\"queries\""))
    assert(BenchGuard.extractQueries(retimedOnly) == Map("n89_x" -> 4.0))
  }

  test("no timings in any recoverable shape returns empty, never throws") {
    // the caller (main) owns the clean-failure exit; the r12 `require`
    // here turned an unreplayable artifact into a stack trace
    assert(BenchGuard.extractQueries("""{"n": 4, "rc": 0}""").isEmpty)
  }
}
