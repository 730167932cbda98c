package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench contamination guard is only as good as its reference
  * parser and trigger thresholds — and the parser already shipped one
  * silent-disarm bug (a no-space regex parsed any standard JSON
  * writer's "k": v file as ZERO entries, so the doctored-ref
  * validation read contaminated:false). Pure-function pins, no Spark
  * session needed.
  */
class BenchRefSuite extends AnyFunSuite {

  test("parseRef reads Bench's own compact format") {
    val m = Bench.parseRef("""{"q1":0.123,"q2":1.5,"q3":2.0E-2}""")
    assert(m == Map("q1" -> 0.123, "q2" -> 1.5, "q3" -> 0.02))
  }

  test("parseRef reads standard JSON-writer whitespace (the shipped bug)") {
    val m = Bench.parseRef("{\"q1\": 0.123, \"q2\" : 1.5,\n  \"q3\":\t0.7}")
    assert(m == Map("q1" -> 0.123, "q2" -> 1.5, "q3" -> 0.7))
  }

  test("parseRef skips a malformed entry without disarming the rest") {
    // A single bad value must not zero the whole reference: the regex
    // char class admits strings like "1.2.3" or "E" that toDouble
    // rejects — those entries drop, the others still arm the trigger.
    val m = Bench.parseRef("""{"bad":1.2.3,"worse":E,"good":0.5}""")
    assert(m == Map("good" -> 0.5))
  }

  test("parseRef on garbage or empty input yields an empty (disarmed) map") {
    assert(Bench.parseRef("").isEmpty)
    assert(Bench.parseRef("not json at all").isEmpty)
  }

  test("ref mint gate: quiet better-or-equal sweep writes") {
    val cur = Map("a" -> 1.0, "b" -> 0.5)
    val cand = Map("a" -> 0.95, "b" -> 0.52)
    // 0.15% steal of capacity — the quiet-box band.
    assert(Bench.refMintRefusal(contaminated = false, Some(150L),
      100000.0, cand, cur).isEmpty)
  }

  test("ref mint gate: refuses contaminated verdict and unreadable steal") {
    val m = Map("a" -> 1.0)
    assert(Bench.refMintRefusal(contaminated = true, Some(0L),
      100000.0, m, m).nonEmpty)
    assert(Bench.refMintRefusal(contaminated = false, None,
      100000.0, m, m).nonEmpty)
  }

  test("ref mint gate: refuses sustained sweep-level steal (the r13 ratchet)") {
    // The r13 repro: 2.3% of capacity lost to steal inflated every min
    // ~1.22x with zero per-query flags — contaminated:false, yet the
    // minted ref would have loosened the trigger by 22% per round.
    val m = Map("a" -> 1.0)
    assert(Bench.refMintRefusal(contaminated = false, Some(2300L),
      100000.0, m, m).exists(_.contains("steal")))
  }

  test("ref mint gate: refuses a candidate >10% slower than the ref it replaces") {
    val cur = Map("a" -> 1.0, "b" -> 1.0)
    val slower = Map("a" -> 1.2, "b" -> 1.1)
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, slower, cur).exists(_.contains("1.10x")))
    // ...but with NO current ref (first mint) any quiet sweep writes.
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, slower, Map.empty).isEmpty)
  }

  test("ref mint gate: force bypasses ratchet and contamination, never the steal gates") {
    val cur = Map("a" -> 1.0, "b" -> 1.0)
    val slower = Map("a" -> 1.3, "b" -> 1.2)
    // The stranding scenario the escape exists for (r13 verdict #4): a
    // deliberately-slower binary trips over_ref against the stale ref,
    // the sweep reads contaminated:true, and without force no new ref
    // can ever be minted. Forced, a QUIET such sweep mints.
    assert(Bench.refMintRefusal(contaminated = true, Some(0L),
      100000.0, slower, cur, force = true).isEmpty)
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, slower, cur, force = true).isEmpty)
    // ...but force never overrides the steal gates: a mint under
    // hypervisor load is garbage regardless of intent.
    assert(Bench.refMintRefusal(contaminated = true, Some(2300L),
      100000.0, slower, cur, force = true).exists(_.contains("steal")))
    assert(Bench.refMintRefusal(contaminated = true, None,
      100000.0, slower, cur, force = true).nonEmpty)
  }

  test("calibrated ratchet: a fast-window ref no longer strands an honest re-mint") {
    // The r16 deadlock, reproduced with the round's real numbers: a
    // 19.01 s mint landed in the day's one fast box phase (_calib_s
    // 0.38) and pinned the raw 1.10x bar at 20.91 s while the box
    // settled at calib 0.46 and honest quiet sweeps read 21-24 s —
    // every re-mint was refused and the ref had to go through
    // REF_FORCE. Normalizing the candidate total to the REF's box
    // speed (x calibRef/calibCandidate) un-strands it without force.
    val fastRef = Map("a" -> 10.0, "b" -> 9.01)    // total 19.01, calib 0.38
    val honest = Map("a" -> 11.5, "b" -> 10.7)     // total 22.2,  calib 0.46
    // The raw gate refused this (22.2 > 1.10 x 19.01 = 20.91)...
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, honest, fastRef).exists(_.contains("1.10x")),
      "without calib the raw ratchet must still refuse — the repro baseline")
    // ...the calibrated gate accepts: 22.2 x (0.38/0.46) = 18.34 < 20.91.
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, honest, fastRef,
      calibCandidate = 0.46, calibRef = Some(0.38)).isEmpty,
      "an honest slower-box re-mint must pass WITHOUT force")
    // The regression direction is still refused: same settled box,
    // genuinely slower binary (26.0 x 0.826 = 21.48 > 20.91)...
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, Map("a" -> 13.0, "b" -> 13.0), fastRef,
      calibCandidate = 0.46, calibRef = Some(0.38)).exists(_.contains("1.10x")))
    // ...and an equal-calib regression normalizes by 1.0 (raw test).
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, honest, fastRef,
      calibCandidate = 0.38, calibRef = Some(0.38)).exists(_.contains("1.10x")))
    // Symmetric protection: a candidate minted in a FAST window
    // normalizes UP against a settled ref — box luck cannot slip a
    // genuinely-slower binary under the bar (19.5 x 1.5-clamped = 29.25).
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, Map("a" -> 10.0, "b" -> 9.5), fastRef,
      calibCandidate = 0.30, calibRef = Some(0.46)).exists(_.contains("1.10x")))
    // The factor is FLOOR-clamped at 0.67: a corrupt near-zero calibRef
    // stamp (raw factor ~0.002 would shrink any total to nothing) can
    // launder at most a 1.10/0.67 = 1.64x regression, never an
    // arbitrary one — 35.0 x 0.67 = 23.45 stays over the 20.91 bar.
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, Map("a" -> 18.0, "b" -> 17.0), fastRef,   // 35.0 s, 1.84x
      calibCandidate = 0.46, calibRef = Some(0.001)).exists(_.contains("1.10x")),
      "floor clamp: a corrupt calib must not launder a 1.84x regression")
    // Missing calib on either side degrades to the raw test.
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, honest, fastRef, calibCandidate = -1.0,
      calibRef = Some(0.38)).nonEmpty)
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, honest, fastRef, calibCandidate = 0.46,
      calibRef = None).nonEmpty)
  }

  test("dual calibration: memory-bandwidth kernel joins the ratchet normalization (r19 verdict #2)") {
    // The r19 deadlock: whole-sweep totals drifted 21.8 -> 25 s with
    // calib_s (CPU kernel) FLAT and zero steal — pure memory-subsystem
    // drift. The CPU-only gate refused every honest re-mint. With the
    // bandwidth kernel stamped on both sides, the factor is the
    // geometric mean of the two ratios.
    val fastRef = Map("a" -> 10.0, "b" -> 9.01)    // total 19.01, bar 20.91
    val honest = Map("a" -> 11.5, "b" -> 10.7)     // total 22.2
    // CPU flat (0.46/0.46 = 1.0) — the old gate refuses...
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, honest, fastRef,
      calibCandidate = 0.46, calibRef = Some(0.46)).exists(_.contains("1.10x")),
      "CPU-only normalization cannot see bandwidth drift — the repro baseline")
    // ...but the mem kernel reads the drift (ref 0.60 s vs candidate
    // 1.00 s): geo mean sqrt(1.0 * 0.60) = 0.775, 22.2 x 0.775 = 17.2
    // < 20.91 — the honest re-mint passes without force.
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, honest, fastRef,
      calibCandidate = 0.46, calibRef = Some(0.46),
      calibMemCandidate = 1.00, calibMemRef = Some(0.60)).isEmpty,
      "dual normalization must un-strand the bandwidth-drift re-mint")
    // A genuine regression under EQUAL calibs still refuses (both
    // ratios 1.0 -> raw test).
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, Map("a" -> 18.0, "b" -> 17.0), fastRef,
      calibCandidate = 0.46, calibRef = Some(0.46),
      calibMemCandidate = 0.60, calibMemRef = Some(0.60)).exists(_.contains("1.10x")))
    // A corrupt mem kernel pulls only by its square root and the floor
    // clamp still holds: sqrt(1.0 * 0.001) = 0.032 -> clamped 0.67;
    // 35.0 x 0.67 = 23.45 > 20.91 — refused.
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, Map("a" -> 18.0, "b" -> 17.0), fastRef,
      calibCandidate = 0.46, calibRef = Some(0.46),
      calibMemCandidate = 1.00, calibMemRef = Some(0.001)).exists(_.contains("1.10x")),
      "floor clamp: a corrupt mem calib must not launder a 1.84x regression")
    // Missing mem calib on either side degrades to the CPU-only rule
    // (pre-r20 refs keep their exact r16 behavior).
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, honest, fastRef,
      calibCandidate = 0.46, calibRef = Some(0.38),
      calibMemCandidate = 1.00, calibMemRef = None).isEmpty,
      "mem-missing must reproduce the r16 CPU-only acceptance")
    // _calib_mem_s is parseRef-inert like every provenance stamp.
    assert(Bench.parseRef("""{"_calib_mem_s":0.9,"_calib_s":0.31,"q1":0.5}""")
      == Map("q1" -> 0.5))
  }

  test("corrupt-stamp fallback: an out-of-envelope calib ratio degrades to the raw ratchet (r21)") {
    // The r21 stranding, reproduced with the round's real numbers: the
    // r20 forced mint stamped _calib_s 1.098 / _calib_mem_s 0.145 —
    // kernels measured inside a burst, 2.2–2.8× every quiet reading
    // this box has ever produced (0.387–0.456 across 21 rounds) while
    // the ref's own minted VALUES were only ~1.04× typical. Against
    // those stamps every honest window blends to ~2.5, clamps to 1.5,
    // and a candidate FASTER in raw terms (21.4 vs 26.5 s) reads
    // "32.2 s adjusted" — permanently stranded without force.
    val poisonedRef = Map("a" -> 13.5, "b" -> 13.0)   // 26.5 s, bar 29.15
    val honest = Map("a" -> 11.0, "b" -> 10.4)        // 21.4 s raw
    // Beyond the [0.5, 2.0] plausibility envelope the gate must fall
    // back to the raw test (factor 1.0), not clamp: the honest faster
    // candidate mints without force.
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, honest, poisonedRef,
      calibCandidate = 0.39, calibRef = Some(1.098),
      calibMemCandidate = 0.065, calibMemRef = Some(0.145)).isEmpty,
      "a corrupt ref stamp must not strand an honest faster re-mint")
    // The raw ratchet still holds under corrupt stamps: a genuine
    // raw regression (33.0 > 1.10 x 26.5) is refused regardless.
    assert(Bench.refMintRefusal(contaminated = false, Some(0L),
      100000.0, Map("a" -> 17.0, "b" -> 16.0), poisonedRef,
      calibCandidate = 0.39, calibRef = Some(1.098),
      calibMemCandidate = 0.065, calibMemRef = Some(0.145))
      .exists(_.contains("1.10x")),
      "corrupt stamps must not launder a raw regression either")
    // In-envelope ratios keep the exact clamped-normalization
    // behavior (the 1.533 symmetric-protection case above still
    // clamps to 1.5 and refuses — pinned by the r16 test).
  }

  test("parseRef drops underscore-prefixed provenance keys (forced-mint stamp)") {
    val m = Bench.parseRef("""{"_ref_forced":1,"q1":0.5}""")
    assert(m == Map("q1" -> 0.5),
      "a provenance stamp must never arm a trigger or join ratchet totals")
    // _cpus (the mint-config stamp) is likewise parseRef-inert: a
    // cpus=4 run against a cpus=32-minted ref reads over_ref by
    // design, and the stamp exists so the artifact can SAY so
    // ("ref_cpus") — it must never join the query-time maps itself.
    assert(Bench.parseRef("""{"_cpus":32,"_calib_s":0.31,"q1":0.5}""")
      == Map("q1" -> 0.5))
  }

  test("fmt3 writes dot decimals under a comma-decimal default locale") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(Bench.fmt3(0.123456) == "0.123")
      // The hazard (r13 advice): an f-interpolated "%.3f" mints "0,123"
      // which parseRef reads back as 0 — the round-trip must survive
      // any default locale.
      assert(Bench.parseRef(s"""{"q":${Bench.fmt3(1.5)}}""") == Map("q" -> 1.5))
    } finally java.util.Locale.setDefault(prev)
  }

  test("crossoverBlock minifies a valid file and nulls a garbled one") {
    // whitespace AROUND newlines goes; intra-line spacing stays
    assert(Bench.crossoverBlock("{\n \"a\": 1,\n \"b\": {\"c\": 2}\n}\n")
      == """{"a": 1,"b": {"c": 2}}""")
    // a truncated write, an HTML error page, or an empty file must
    // degrade to null — never a broken artifact line
    assert(Bench.crossoverBlock("{\"a\": 1,") == "null")
    assert(Bench.crossoverBlock("<html>nope</html>") == "null")
    assert(Bench.crossoverBlock("") == "null")
  }

  test("crossoverBlock rejects an interior garble (balanced-scan, r14 advice)") {
    // Endpoints intact, interior broken: the old startsWith/endsWith
    // check spliced these verbatim and the whole artifact line became
    // unparseable.
    assert(Bench.crossoverBlock("""{"a": 1, "b": {"c": 2}""" + "}}") == "null")
    assert(Bench.crossoverBlock("""{"a": "unterminated}""") == "null")
    assert(Bench.crossoverBlock("""{"a": ]{[ "b"}""") == "null")
    // escapes inside strings must not confuse the scanner
    assert(Bench.crossoverBlock("""{"a": "br{ce \" qu]te"}""")
      == """{"a": "br{ce \" qu]te"}""")
  }

  test("jsonBalanced: matched structures pass, mismatched/unterminated fail") {
    assert(Bench.jsonBalanced("""{"a":[1,2,{"b":[]}]}"""))
    assert(!Bench.jsonBalanced("""{"a":[1,2}"""))      // wrong closer
    assert(!Bench.jsonBalanced("""{"a":1"""))          // truncated
    assert(!Bench.jsonBalanced("""{"a":1}}"""))        // extra closer
    assert(!Bench.jsonBalanced("""{"a":"x}"""))        // unterminated string
  }

  test("oracle-dump writer round-trips quotes, backslashes and control chars") {
    // Every oracle_sql.json (Verify, Fuzz, StreamFuzz, CrossoverProbe)
    // goes through Verify.writeJsonMap; a raw control char would make a
    // strict reader (Jackson here, json.load in tools/check.py) refuse
    // the whole file.
    val nasty = "q\"b\\t\tr\rn\nu\u0001"
    val m = Seq(nasty -> s"SELECT '$nasty' AS s", "plain" -> nasty, "k\u0001" -> "")
    val f = java.nio.file.Files.createTempFile("graft_oracle_", ".json")
    try {
      Verify.writeJsonMap(f.toString, m)
      val raw = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      assert(!raw.exists(_ < ' '), s"unescaped control char in $raw")
      val back = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(f.toFile, classOf[java.util.LinkedHashMap[String, String]])
      import scala.jdk.CollectionConverters._
      assert(back.asScala.toSeq == m)
    } finally java.nio.file.Files.delete(f)
  }

  test("stampFromJson reads both stamp forms and rejects non-hashes") {
    assert(Bench.stampFromJson("""{"_mint_commit":"68305e9abc","q":1}""")
      == Some("68305e9abc"))
    assert(Bench.stampFromJson("""{"mint_commit": "0123456789abcdef0123456789abcdef01234567"}""")
      == Some("0123456789abcdef0123456789abcdef01234567"))
    assert(Bench.stampFromJson("""{"mint_commit":"HEAD"}""").isEmpty)
    assert(Bench.stampFromJson("""{"q":1}""").isEmpty)
  }

  test("staleGiven: absent/unknown stamp or changed source is stale; artifact-only commits are not") {
    val diff = Map(
      "aaaaaaa" -> Some(Seq("src/main/scala/graft/Bench.scala")),
      "bbbbbbb" -> Some(Seq.empty[String]),  // only NOTES/artifacts since
      "ccccccc" -> None)                      // commit unknown to the repo
    def d(s: String) = diff.getOrElse(s, None)
    assert(Bench.staleGiven(None, d), "missing stamp must read stale")
    assert(Bench.staleGiven(Some("aaaaaaa"), d), "changed src/main must read stale")
    assert(!Bench.staleGiven(Some("bbbbbbb"), d),
      "committing the minted file itself must NOT flag the evidence stale")
    assert(Bench.staleGiven(Some("ccccccc"), d), "unknown commit must read stale")
  }

  test("mintStale against the live repo: HEAD is fresh, garbage is stale") {
    // Integration leg (cwd = repo root under sbt): evidence minted at
    // the CURRENT HEAD has no source drift by definition.
    Bench.gitHead() match {
      case Some(head) => assert(!Bench.mintStale(Some(head)))
      case None => () // no git in this environment — pure pins above cover it
    }
    assert(Bench.mintStale(Some("0" * 40)), "unknown commit must read stale")
    assert(Bench.mintStale(None))
  }

  test("scalesweepEmbed compacts to stamp+flagged+worst10 and nulls garble") {
    val txt = """{"mint_commit":"abc1234","factor":10,
      "flagged":["qx"],
      "ratios":{"q1":1.5,"q2":11.2,"q3":0.4},
      "base_s":{"q1":0.1,"q2":0.2,"q3":0.3}}"""
    val e = Bench.scalesweepEmbed(txt)
    assert(e.contains(""""mint_commit":"abc1234""""), e)
    assert(e.contains(""""factor":10"""), e)
    assert(e.contains(""""n":3"""), e)
    assert(e.contains(""""flagged":["qx"]"""), e)
    // worst-first ordering inside worst10
    assert(e.indexOf("\"q2\"") < e.indexOf("\"q1\""), e)
    assert(e.indexOf("\"q1\"") < e.indexOf("\"q3\""), e)
    assert(Bench.jsonBalanced(e), s"embed itself must be balanced: $e")
    assert(Bench.scalesweepEmbed("""{"factor":10}""") == "null") // no ratios
    assert(Bench.scalesweepEmbed("""{"ratios":{"q":1}""") == "null") // truncated
    assert(Bench.scalesweepEmbed("") == "null")
  }

  test("chooseSweep: quiet first pass stays; contaminated first yields to a quiet retry") {
    import Bench.{SweepSummary => S}
    // Validated both ways (r14 verdict #1 'done' criterion): a quiet
    // first pass never spawned a second attempt — chooseSweep sees None.
    assert(Bench.chooseSweep(S(20.0, contaminated = false, Some(100L), 0), None) == 1)
    // The r14 scenario: high-steal contaminated first pass, quiet second.
    assert(Bench.chooseSweep(
      S(31.6, contaminated = true, Some(14678L), 16),
      Some(S(23.1, contaminated = false, Some(641L), 0))) == 2)
    // A contaminated RETRY never replaces a quiet first pass.
    assert(Bench.chooseSweep(
      S(23.1, contaminated = false, Some(641L), 0),
      Some(S(20.0, contaminated = true, Some(9000L), 3))) == 1)
    // Both contaminated: fewer suspect+over_ref flags wins...
    assert(Bench.chooseSweep(
      S(30.0, contaminated = true, Some(5000L), 10),
      Some(S(31.0, contaminated = true, Some(6000L), 2))) == 2)
    // ...then lower steal (unreadable steal is worst)...
    assert(Bench.chooseSweep(
      S(30.0, contaminated = true, None, 3),
      Some(S(31.0, contaminated = true, Some(2000L), 3))) == 2)
    // ...then lower total.
    assert(Bench.chooseSweep(
      S(30.0, contaminated = true, Some(2000L), 3),
      Some(S(28.0, contaminated = true, Some(2000L), 3))) == 2)
  }

  test("calibration kernel is deterministic and parseRef-inert in the ref") {
    // The kernel itself asserts checksum stability across runs; here:
    // it produces a positive time, and its ref stamp (underscore key)
    // never enters the trigger map.
    val t = Bench.calibKernel()
    assert(t > 0.0 && t < 60.0, s"calibration kernel time out of range: $t")
    assert(Bench.parseRef("""{"_calib_s":0.481,"q":0.5}""") == Map("q" -> 0.5))
  }

  test("committed evidence files are well-formed and stamped") {
    // The artifact-integrity complement of the staleness machinery: a
    // garbled or stamp-less committed evidence file would ride every
    // sweep of the round as null/stale. Guards the commit, not the
    // mint (cwd = repo root under sbt).
    def read(p: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    for (p <- Seq("crossover.json", "scalesweep.json", "bench_ref.json")) {
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p)),
        s"$p missing — re-mint it (CrossoverProbe+crossover_duckdb.py / " +
          "ScaleSweep / Bench REF_OUT)")
      val txt = read(p)
      assert(Bench.jsonBalanced(txt), s"$p is structurally garbled")
      assert(Bench.stampFromJson(txt).nonEmpty, s"$p carries no mint stamp")
    }
    assert(Bench.crossoverBlock(read("crossover.json")) != "null")
    assert(Bench.scalesweepEmbed(read("scalesweep.json")) != "null")
    // The committed crossover must carry the per-leg runs arrays (r16
    // verdict #3: the x100 legs are the load-bearing floor-proven
    // evidence and used to ride ONE draw against ±50% box drift —
    // headline = min, spread visible). A re-mint from an older binary
    // would silently drop them; refuse that commit.
    val xTxt = read("crossover.json")
    for (k <- Seq("spark_runs_x100", "duckdb_runs_x100",
        "spark_runs_x10", "duckdb_runs_x10", "spark_runs_x1"))
      assert(xTxt.contains("\"" + k + "\""),
        s"crossover.json lost its $k runs arrays — re-mint with the " +
          "current CrossoverProbe + crossover_duckdb.py")
    // The committed scalesweep must carry the x100 graph spot leg with
    // its ADJACENT base draw (r17: a ratio whose legs came from
    // different box phases read 11.7x where adjacent draws read ~50x).
    val ssTxt2 = read("scalesweep.json")
    for (k <- Seq("x2_factor", "x2_ratios", "x2_base_s", "x2_s"))
      assert(ssTxt2.contains("\"" + k + "\""),
        s"scalesweep.json lost its $k x2-leg key — re-mint with the " +
          "x100 corpus synthesized (CrossoverProbe) so ScaleSweep's " +
          "spot leg runs")
    assert(Bench.parseRef(read("bench_ref.json")).size > 150,
      "bench_ref.json lost its per-query entries")
    // r20: the ref must stamp BOTH calibration kernels — without
    // _calib_mem_s the ratchet degrades to the CPU-only rule that
    // deadlocked the r19 re-mint (see refMintRefusal).
    for (k <- Seq("_calib_s", "_calib_mem_s"))
      assert(read("bench_ref.json").contains("\"" + k + "\""),
        s"bench_ref.json lost its $k calibration stamp — re-mint with " +
          "the current Bench (dual-kernel normalization)")
    // The committed scalesweep must cover the CURRENT inventory — a
    // file minted against a stale query set would silently audit the
    // wrong engine. (ratios is the first {...} map in the file whose
    // keys are query names; parseRef reads exactly that object.)
    val ssTxt = read("scalesweep.json")
    val ratStart = ssTxt.indexOf("\"ratios\":{")
    val ratios = Bench.parseRef(
      ssTxt.substring(ratStart, ssTxt.indexOf('}', ratStart) + 1))
    assert(ratios.keySet == SparkEntry.queries.keySet,
      s"scalesweep.json inventory drift — missing: ${
        (SparkEntry.queries.keySet -- ratios.keySet).toSeq.sorted}; " +
        s"extra: ${(ratios.keySet -- SparkEntry.queries.keySet).toSeq.sorted}")
  }

  test("every graft.tools main is documented in README §Running or the verify skill") {
    // A main nobody can find is a probe that outlived its question:
    // each one is listed where runs are documented, or deleted. Per-query
    // timing and traces go through perfbench.Main, not a new probe.
    def read(p: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    val readme = read("README.md")
    val from = readme.indexOf("\n## Running")
    assert(from >= 0, "README.md lost its §Running section")
    val to = readme.indexOf("\n## ", from + 1)
    val documented = readme.substring(from, if (to < 0) readme.length else to) +
      read(".claude/skills/verify/SKILL.md")
    val mains = for {
      f <- new java.io.File("src/main/scala/graft/tools").listFiles().toSeq
      if f.getName.endsWith(".scala")
      src = read(f.getPath)
      i = src.indexOf("def main(")
      if i >= 0
    } yield "(?m)^object (\\w+)".r.findAllMatchIn(src.take(i)).toSeq.last.group(1)
    assert(mains.nonEmpty, "no mains found under src/main/scala/graft/tools")
    val missing = mains.filterNot(m => documented.contains(s"graft.tools.$m")).sorted
    assert(missing.isEmpty, s"graft.tools mains with no documented run: $missing — " +
      "list each in README §Running (or the verify skill), or delete it")
  }

  test("only GraftSession registers functions, installs planner extensions or keys a weak map on a session") {
    // One place where graft meets a SparkSession: a second install
    // path or session cache outside it is how the copies drifted apart.
    def read(f: java.io.File): String =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val owner = "GraftSession.scala"
    val banned = Seq(
      "createOrReplaceTempFunction".r,
      """\.extra(Strategies|Optimizations)\s*(\+\+|:\+|\+)?=(?!=)""".r,
      """WeakHashMap\s*\[\s*(org\.apache\.spark\.sql\.)?SparkSession\b""".r)
    def files(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) files(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val all = files(new java.io.File("src/main"))
    val (own, rest) = all.partition(_.getName == owner)
    assert(own.size == 1, s"expected exactly one $owner under src/main")
    banned.foreach(re => assert(re.findFirstIn(read(own.head)).isDefined,
      s"$owner no longer matches /$re/: the guard would pass vacuously"))
    val offenders = for {
      f <- rest
      (line, i) <- read(f).split("\n").zipWithIndex
      re <- banned
      if re.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: $line"
    assert(offenders.isEmpty, "session setup or a session-keyed weak map outside " +
      s"$owner:\n${offenders.mkString("\n")}")
  }

  test("overRef needs BOTH >1.5x relative AND >80ms absolute") {
    val ref = Map("big" -> 1.0, "small" -> 0.04)
    assert(Bench.overRef(ref, "big", 1.6))       // 1.6x and +0.6 s
    assert(!Bench.overRef(ref, "big", 1.4))      // under the ratio
    assert(!Bench.overRef(ref, "small", 0.1))    // 2.5x but only +60 ms
    assert(Bench.overRef(ref, "small", 0.13))    // 3.25x and +90 ms
    assert(!Bench.overRef(ref, "unknown", 99.0)) // no entry never flags
  }
}
