package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench noise guard, pinned on the exact failure shape that wrote a
  * 45%-inflated anchor in round 11: every canary under its 1.5x trip
  * while a mid-suite co-tenant window blew up the join block and the
  * suite total. The committed r11 numbers are used verbatim.
  */
class BenchGuardSpec extends AnyFunSuite {

  // the committed (clean) r10 anchor, abbreviated to the fields the
  // guard reads: headline total + the three canaries + two join entries
  private val anchor =
    """{"metric":"total","value":123.028,"unit":"sec","queries":{
      |"validators":0.72,"text_memsize":0.119,"win_session":0.127,
      |"join_range":0.49,"join_anti":0.41,"hist_fixed":0.47},
      |"sf":"/root/testdata/sf0.1"}""".stripMargin.replace("\n", "")

  private val canaries = Seq("validators", "text_memsize", "win_session")

  test("r11 failure shape: clean canaries, inflated total -> trips") {
    // the r11 run: canaries 0.97x/1.34x/1.25x (all under 1.5x) but the
    // join block 6-14x and total 178.7 vs 123.0 = 1.45x
    val r11 = Map(
      "validators" -> 0.70, "text_memsize" -> 0.159, "win_session" -> 0.159,
      "join_range" -> 6.763, "join_anti" -> 3.02, "hist_fixed" -> 3.44)
    assert(Bench.noiseTrip(anchor, canaries, r11, total = 178.666),
      "the guard must divert the r11 shape (clean canaries, 1.45x total)")
  }

  test("clean re-run within noise stays accepted") {
    val clean = Map(
      "validators" -> 0.75, "text_memsize" -> 0.13, "win_session" -> 0.12,
      "join_range" -> 0.52, "join_anti" -> 0.40, "hist_fixed" -> 0.45)
    assert(!Bench.noiseTrip(anchor, canaries, clean, total = 127.4))
  }

  test("single canary blowup trips even with a quiet total") {
    val oneBad = Map(
      "validators" -> 2.0, "text_memsize" -> 0.12, "win_session" -> 0.12)
    assert(Bench.noiseTrip(anchor, canaries, oneBad, total = 125.0))
  }

  test("missing anchor fields fail open (no trip, no crash)") {
    assert(!Bench.noiseTrip("{}", canaries, Map("validators" -> 9.9), 999.0))
    assert(!Bench.noiseTrip(anchor, canaries, Map.empty, total = -1.0))
  }

  test("compact tail line stays under 1 KB and parses standalone") {
    // worst realistic case: full registry, every query failing (the
    // error list must cap at CompactMaxErrors names + a count)
    val manyErrors = (1 to 200).map(i => s"some_long_query_name_$i")
    val line = Bench.compactLine(
      total = 12345.678, vTotal = 234.567, substitutedTotal = 12000.123,
      nQueries = 146, nVariants = 14, cpus = 32, errors = manyErrors,
      sfDir = "/root/testdata/sf0.1",
      sidecar = Some("BENCH_PARSED_LATEST_noisy.json"))
    assert(line.length < 1024,
      s"compact line must fit any tail capture window: ${line.length}")
    // shape: one complete JSON object carrying the headline fields
    assert(line.startsWith("{") && line.endsWith("}"))
    for (k <- Seq("\"metric\":\"total\"", "\"value\":12345.678",
        "\"unit\":\"sec\"", "\"substituted_total\":12000.123",
        "\"n_queries\":146", "\"cpus\":32", "\"n_errors\":200",
        "\"sf\":\"/root/testdata/sf0.1\"",
        "\"queries_file\":\"BENCH_PARSED_LATEST_noisy.json\""))
      assert(line.contains(k), s"missing $k in $line")
    assert(!line.contains("some_long_query_name_9"),
      "error names past the cap must not appear")
    assert(line.contains("some_long_query_name_8"))
  }

  test("compact line: clean run has empty errors and -1 for failed totals") {
    val line = Bench.compactLine(163.939, 22.312, 163.939, 146, 14, 8,
      Nil, "/root/testdata/sf0.1", None)
    assert(line.contains("\"errors\":[]") && line.contains("\"n_errors\":0"))
    assert(line.contains("\"cpus\":8"))
    val failed = Bench.compactLine(-1.0, -1.0, -1.0, 0, 0, 32, Nil,
      "x", None)
    assert(failed.contains("\"value\":-1"))
  }

  test("compact line escapes quotes and backslashes in paths and names") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val sf = "C:\\data\\sf \"0.1\""
    val line = Bench.compactLine(1.5, 0.5, 1.5, 146, 14, 4,
      Seq("q\"uote", "back\\slash", "tab\there"), sf,
      Some("BENCH_\"PARSED\".json"))
    implicit val formats: Formats = DefaultFormats
    val js = parse(line)
    assert((js \ "sf").extract[String] == sf)
    assert((js \ "queries_file").extract[String] == "BENCH_\"PARSED\".json")
    assert((js \ "errors").extract[Seq[String]] ==
      Seq("q\"uote", "back\\slash", "tab\there"))
    assert((js \ "cpus").extract[Int] == 4)
    // worst case: every field long and made of characters that escape
    // to two or six characters — still one parseable line under 1 KB
    val nasty = ("\"\\\u0001" * 200)
    val worst = Bench.compactLine(12345.678, 234.567, 12000.123, 146, 14,
      32, Seq.fill(200)(nasty), "/data/" + nasty, Some(nasty + ".json"))
    assert(worst.length < 1024, s"${worst.length} chars")
    val wjs = parse(worst)
    assert((wjs \ "n_errors").extract[Int] == 200)
    assert((wjs \ "sf").extract[String].nonEmpty)
  }

  test("SPARK_GRAFT_CPUS parses to a positive Int or fails by name") {
    assert(GraftSession.parseCpus(None) == 4)
    assert(GraftSession.parseCpus(None, default = 8) == 8)
    assert(GraftSession.parseCpus(Some("8")) == 8)
    assert(GraftSession.parseCpus(Some(" 32 ")) == 32)
    for (bad <- Seq("*", "", "0", "-2", "4.5", "eight")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") &&
        e.getMessage.contains(s"\"$bad\""), e.getMessage)
    }
  }

  test("r18 golden-slot shape: ms-jitter canary against an outlier-low " +
      "anchor does not trip (0.1 s denominator floor)") {
    // the r18 golden anchor carried text_memsize at 0.068 s; a +45 ms
    // jitter (0.113) read as 1.66x and diverted every representative
    // window. With the floor, 0.113 / max(0.068, 0.1) = 1.13 — clean.
    val goldenAnchor =
      """{"metric":"total","value":86.525,"unit":"sec","queries":{
        |"validators":0.086,"text_memsize":0.068,"win_session":0.118},
        |"sf":"/root/testdata/sf0.1"}""".stripMargin.replace("\n", "")
    val jitter = Map(
      "validators" -> 0.109, "text_memsize" -> 0.113, "win_session" -> 0.120)
    assert(!Bench.noiseTrip(goldenAnchor, canaries, jitter, total = 95.0))
    // a REAL co-tenant canary (0.2 s = 2x the floored denominator)
    // still trips even against the same low anchor
    val cotenant = jitter + ("text_memsize" -> 0.21)
    assert(Bench.noiseTrip(goldenAnchor, canaries, cotenant, total = 95.0))
  }
}
