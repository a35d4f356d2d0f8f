package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench envelope's self-diagnosis helpers (round-11 verdict
  * "Next round" #1 and #4): [[Bench.errTxt]] must render ANY throwable as
  * a JSON-embeddable single line, and [[Bench.hostContended]] must label
  * a contended run from the envelope's own fields — the "deliberately
  * loaded smoke run" is encoded here as the r11 driver run's actual
  * numbers (load_start 3.26 on 32 cpus is NOT loaded by the cpu rule,
  * but the 2.8× headline scatter it produced IS caught by the spread
  * rule; load 14.82 trips the cpu rule directly). */
class BenchEnvelopeSpec extends AnyFunSuite {

  test("errTxt flattens quotes, newlines and truncates to 200 chars") {
    val e = new IllegalStateException("line1\nline2 \"quoted\" \\slash\t" + "x" * 300)
    val t = Bench.errTxt(e)
    assert(t.startsWith("java.lang.IllegalStateException: line1 line2"))
    assert(!t.exists(c => c == '"' || c == '\\' || c < ' '))
    assert(t.length <= 200)
    // null-message throwables (NPE et al.) must not NPE the renderer
    assert(Bench.errTxt(new NullPointerException()) ===
      "java.lang.NullPointerException: ")
  }

  test("errTxt is encoding-safe: non-ASCII (incl. surrogate pairs) flattened") {
    // a message with a supplementary char straddling the 200-char cut
    // must never leave a lone surrogate — that would make the envelope's
    // Files.writeString throw, and the swallow would drop the artifact
    val emoji = new String(Character.toChars(0x1F600))
    val msg = "x" * 198 + emoji + "tail é中"
    val t = Bench.errTxt(new RuntimeException(msg))
    assert(t.length <= 200)
    assert(t.forall(c => c >= ' ' && c <= '~'), s"non-ASCII survived: $t")
    // and the result is always valid UTF-8-encodable text
    java.nio.charset.StandardCharsets.UTF_8.newEncoder()
      .encode(java.nio.CharBuffer.wrap(t))
  }

  test("hostContended: quiet host, tight reps -> false") {
    val spread = Seq(("q1", 0.10, 0.12), ("q3", 0.30, 0.33), ("q7", 0.69, 0.71))
    assert(!Bench.hostContended(loadStart = 0.85, cpus = 32, spread))
  }

  test("hostContended: loadavg above a quarter of the cores -> true") {
    // the r11 driver run ENDED at 14.82 on 32 cpus; a bench starting
    // there must self-label regardless of how the reps scatter
    assert(Bench.hostContended(14.82, 32, Nil))
    assert(!Bench.hostContended(7.9, 32, Nil)) // 32/4 = 8 is the line
    assert(Bench.hostContended(8.1, 32, Nil))
  }

  test("hostContended: broad multi-query rep scatter -> true") {
    // r11 driver shape: sql_market_share 2.8x and asof 1.7x+ its floor
    // while the load climbed 3.26 -> 14.82 during the run
    val r11ish = Seq(
      ("sql_market_share", 0.65, 1.97),
      ("asof_click_attribution", 0.40, 1.12),
      ("q1_pricing_summary", 0.14, 0.15))
    assert(Bench.hostContended(3.26, 32, r11ish))
  }

  test("legContended: r12's official scale_100m artifact labels itself") {
    // the exact incident the rule exists for (round-12 verdict #1): the
    // driver's official r12 artifact carried scale_100m reps spanning
    // [11.62, 122.53] s (median 55.07) while host_contended stayed false
    // — the start-load/headline-scatter rules never saw the leg's own
    // dispersion. Reps reconstructed from the artifact's min/med/max.
    val r12driver = Seq(
      Map("scale_100m_join_sec" -> 11.6163),
      Map("scale_100m_join_sec" -> 55.0728),
      Map("scale_100m_join_sec" -> 122.5298))
    assert(Bench.legContended(r12driver, Seq("scale_100m_join_sec"),
      skipFirst = false))
    // the builder's committed quiet run the same round: [13.82, 18.09],
    // ratio 1.31 — must NOT label
    val r12quiet = Seq(
      Map("scale_100m_join_sec" -> 13.8232),
      Map("scale_100m_join_sec" -> 13.9983),
      Map("scale_100m_join_sec" -> 18.0880))
    assert(!Bench.legContended(r12quiet, Seq("scale_100m_join_sec"),
      skipFirst = false))
  }

  test("legContended: scale_10m's by-design cold first rep is exempt") {
    // quiet r12 committed values: cold-first write 13.07 s vs warm reps
    // ~6.2-7.5 s — a >2x spread that is the leg's POINT, not contention
    val quietCold = Seq(
      Map("wh_write_10m" -> 13.0703, "wh_pruned_minute_report" -> 5.0793,
        "wh_full_agg_10m" -> 4.3823),
      Map("wh_write_10m" -> 7.4544, "wh_pruned_minute_report" -> 2.9932,
        "wh_full_agg_10m" -> 3.6770),
      Map("wh_write_10m" -> 6.2130, "wh_pruned_minute_report" -> 2.6423,
        "wh_full_agg_10m" -> 3.2393))
    val keys = Seq("wh_write_10m", "wh_pruned_minute_report", "wh_full_agg_10m")
    assert(!Bench.legContended(quietCold, keys, skipFirst = true))
    // the same shape WITHOUT the exemption would flag — proving the
    // exemption is what keeps the quiet run quiet
    assert(Bench.legContended(quietCold, keys, skipFirst = false))
    // but reps 2-3 scattering >2x IS host evidence even under skipFirst
    val degraded = quietCold.init :+
      Map("wh_write_10m" -> 23.5, "wh_pruned_minute_report" -> 2.7,
        "wh_full_agg_10m" -> 3.3)
    assert(Bench.legContended(degraded, keys, skipFirst = true))
  }

  test("legContended: sub-half-second jitter and failed legs stay quiet") {
    // freshness-class legs: a 2.3x ratio on a 0.2->0.46 s spread is
    // micro-batch scheduling jitter, not the host (abs floor 0.5 s)
    val jitter = Seq(Map("freshness_sec" -> 0.20),
      Map("freshness_sec" -> 0.33), Map("freshness_sec" -> 0.46))
    assert(!Bench.legContended(jitter, Seq("freshness_sec"), skipFirst = false))
    // quiet r12 freshness [1.203, 1.721] — ratio 1.43, must not label
    val quiet = Seq(Map("freshness_sec" -> 1.203),
      Map("freshness_sec" -> 1.668), Map("freshness_sec" -> 1.721))
    assert(!Bench.legContended(quiet, Seq("freshness_sec"), skipFirst = false))
    // the r9-class incident (19.2 vs 1.3 s) labels
    val r9ish = Seq(Map("freshness_sec" -> 1.3), Map("freshness_sec" -> 19.2))
    assert(Bench.legContended(r9ish, Seq("freshness_sec"), skipFirst = false))
    // -1.0 failure markers and empty/missing reps never divide by zero
    assert(!Bench.legContended(Seq(Map("freshness_sec" -> -1.0)),
      Seq("freshness_sec"), skipFirst = false))
    assert(!Bench.legContended(Nil, Seq("freshness_sec"), skipFirst = false))
    assert(!Bench.legContended(Seq(Map.empty[String, Double]),
      Seq("freshness_sec"), skipFirst = true))
  }

  // Fixture: the r13 incident's real numbers. The committed quiet r13
  // envelope carried scale_100m_join_sec 15.4089 (tight reps, skew
  // <=1.20); the driver's official r13 artifact ran the same leg at
  // 25.335 with rep spread only 1.8x — invisible to legContended (needs
  // >2x), exactly the uniform-slowdown blind spot legRegressedFromPrior
  // closes (round-13 verdict "Next round" #2).
  private val r13PriorQuiet =
    """{"metric":"headline_total","sf":"/root/testdata/sf0.1",""" +
      """"host_contended":false,"leg_contended":[],""" +
      """"scale_100m":{"scale_100m_join_sec":15.4089,""" +
      """"scale_100m_join_sec_min":14.4,"scale_100m_join_sec_max":16.4},""" +
      """"freshness":{"freshness_sec":1.0540},""" +
      """"scale_10m":{"wh_write_10m":10.3451}}"""

  test("legRegressedFromPrior: the r13 driver scale_100m labels itself") {
    val cur = Map("scale_100m_join_sec" -> 25.335,
      "freshness_sec" -> 1.054, "wh_write_10m" -> 10.5)
    assert(Bench.legRegressedFromPrior(r13PriorQuiet, cur,
      "/root/testdata/sf0.1") === Seq("scale_100m"))
  }

  test("legRegressedFromPrior: sub-1.5x drift stays unlabeled") {
    // the r12->r13 quiet drift itself (15.4 -> 19.3, ratio 1.25) is
    // below the rule's line — attribution work, not an auto-label
    val cur = Map("scale_100m_join_sec" -> 19.3109)
    assert(Bench.legRegressedFromPrior(r13PriorQuiet, cur,
      "/root/testdata/sf0.1").isEmpty)
    // 1.5x ratio but sub-0.5s absolute growth (tiny legs) stays quiet
    val tiny = r13PriorQuiet.replace("\"freshness_sec\":1.0540",
      "\"freshness_sec\":0.2000")
    assert(Bench.legRegressedFromPrior(tiny,
      Map("freshness_sec" -> 0.55), "/root/testdata/sf0.1").isEmpty)
  }

  test("legRegressedFromPrior: non-quiet or mismatched prior is no baseline") {
    val cur = Map("scale_100m_join_sec" -> 25.335)
    // prior self-labels contended -> no comparison
    val contendedPrior =
      r13PriorQuiet.replace("\"host_contended\":false", "\"host_contended\":true")
    assert(Bench.legRegressedFromPrior(contendedPrior, cur,
      "/root/testdata/sf0.1").isEmpty)
    // prior has contended legs -> no comparison (r13 HEAD's swept-in
    // envelope, leg_contended=["scale_10m","freshness"], must never
    // serve as a baseline)
    val legPrior = r13PriorQuiet.replace("\"leg_contended\":[]",
      "\"leg_contended\":[\"scale_10m\",\"freshness\"]")
    assert(Bench.legRegressedFromPrior(legPrior, cur,
      "/root/testdata/sf0.1").isEmpty)
    // prior swept a different sf -> no comparison
    assert(Bench.legRegressedFromPrior(r13PriorQuiet, cur,
      "/root/testdata/sf0.01").isEmpty)
    // no prior at all (fresh checkout) -> no comparison
    assert(Bench.legRegressedFromPrior("", cur, "/root/testdata/sf0.1").isEmpty)
  }

  test("legRegressedFromPrior: multiple metrics of one leg label once") {
    val cur = Map("wh_write_10m" -> 22.0, "wh_pruned_minute_report" -> 9.0,
      "wh_full_agg_10m" -> 9.0)
    val prior = r13PriorQuiet.replace(
      "\"scale_10m\":{\"wh_write_10m\":10.3451}",
      "\"scale_10m\":{\"wh_write_10m\":10.3451," +
        "\"wh_pruned_minute_report\":3.0,\"wh_full_agg_10m\":3.9}")
    assert(Bench.legRegressedFromPrior(prior, cur,
      "/root/testdata/sf0.1") === Seq("scale_10m"))
  }

  test("legRegressedFromFloor: a 1.4x/round creep labels against the floor") {
    // round-14 verdict "Next round" #3: each round is within 1.5x of its
    // PREDECESSOR (so legRegressedFromPrior never fires), but after two
    // 1.4x rounds the leg sits at 1.96x the best-ever floor
    val floor = """{"scale_100m_join_sec":14.9000}"""
    val r1 = 14.9 * 1.4          // 20.86 — vs floor: 1.4x, under the line
    val r2 = r1 * 1.4            // 29.20 — vs prior: 1.4x, vs floor: 1.96x
    val priorR1 = r13PriorQuiet.replace("\"scale_100m_join_sec\":15.4089",
      "\"scale_100m_join_sec\":" + r1)
    assert(Bench.legRegressedFromPrior(priorR1,
      Map("scale_100m_join_sec" -> r2), "/root/testdata/sf0.1").isEmpty,
      "the one-round-back rule is blind to the creep by construction")
    assert(Bench.legRegressedFromFloor(floor,
      Map("scale_100m_join_sec" -> r2)) === Seq("scale_100m"))
    // the first creep round itself stays under the floor line too
    assert(Bench.legRegressedFromFloor(floor,
      Map("scale_100m_join_sec" -> r1)).isEmpty)
    // no floor file (fresh checkout) -> no labels
    assert(Bench.legRegressedFromFloor("",
      Map("scale_100m_join_sec" -> r2)).isEmpty)
  }

  test("updatedFloorJson: improve-only — a slower gating run never raises it") {
    val floor = """{"scale_100m_join_sec":14.9000,"wh_write_10m":11.8000}"""
    val slower = Bench.updatedFloorJson(floor,
      Map("scale_100m_join_sec" -> 20.0, "wh_write_10m" -> 15.0))
    assert(slower.contains("\"scale_100m_join_sec\":14.9000"), slower)
    assert(slower.contains("\"wh_write_10m\":11.8000"), slower)
    val faster = Bench.updatedFloorJson(floor,
      Map("scale_100m_join_sec" -> 12.5, "freshness_sec" -> 1.2))
    assert(faster.contains("\"scale_100m_join_sec\":12.5000"), faster)
    // a metric absent from this run keeps its floor
    assert(faster.contains("\"wh_write_10m\":11.8000"), faster)
    // a metric with no floor yet adopts the current median
    assert(faster.contains("\"freshness_sec\":1.2000"), faster)
    // failed legs (-1 markers) never become floors
    val failed = Bench.updatedFloorJson("{}", Map("freshness_sec" -> -1.0))
    assert(!failed.contains("freshness_sec"), failed)
  }

  test("sfBasename gates exactly the sf0.1 directory (round-14 ADVICE)") {
    assert(Bench.sfBasename("/root/testdata/sf0.1") === "sf0.1")
    assert(Bench.sfBasename("/root/testdata/sf0.1/") === "sf0.1")
    assert(Bench.sfBasename("/root/testdata/mysf0.1") === "mysf0.1")
    // the prior-envelope sf check normalizes the same way: a trailing
    // slash on EITHER side no longer disables the cross-round compare
    val cur = Map("scale_100m_join_sec" -> 25.335)
    assert(Bench.legRegressedFromPrior(r13PriorQuiet, cur,
      "/root/testdata/sf0.1/") === Seq("scale_100m"))
  }

  test("hostContended: one jittery sub-100ms query alone -> false") {
    // a single tiny query doubling (50 -> 110 ms) is normal variance,
    // not host evidence; the flag needs >= 2 scattered queries
    val oneJitter = Seq(
      ("text_quality_score", 0.05, 0.11),
      ("sql_market_share", 0.65, 0.70),
      ("q7_nation_volume", 0.69, 0.72))
    assert(!Bench.hostContended(1.0, 32, oneJitter))
    // ... and a 2x ratio with a tiny ABSOLUTE delta (30 -> 65 ms twice)
    // stays quiet too: the 0.1 s floor filters sub-jitter ratios
    val tinyAbs = Seq(("a", 0.03, 0.065), ("b", 0.03, 0.068))
    assert(!Bench.hostContended(1.0, 32, tinyAbs))
  }

  test("cpuTicksOf: a cpu line without the steal column reads steal -1") {
    // 7 counters (user nice system idle iowait irq softirq): no steal
    assert(Bench.cpuTicksOf("cpu  100 0 50 800 30 5 15") === ((30L, -1L, 1000L)))
    // with steal (8th counter) the value passes through
    assert(Bench.cpuTicksOf("cpu  100 0 50 800 30 5 15 40 0 0") === ((30L, 40L, 1040L)))
  }
}
