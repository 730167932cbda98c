package graft

import graft.tools.Fuzz

/** Differential-fuzzer regression pins (r17 verdict #3). The full gate
  * is 1000 seeded cases hash-matched against DuckDB via tools/check.py
  * (minted as FUZZ.json); this suite re-executes the first 48 seeds —
  * 4-5 per shape — and compares each case's content hash against the
  * committed goldens, which were DuckDB-attested by the same minted
  * run. Any engine or generator change that alters a fuzz result fails
  * here first, and a failing seed IS the reproducer:
  * `runMain graft.tools.Fuzz <dir> <seed> <seed+1>` then
  * `tools/check.py <anySf> <dir>` (the found-divergence protocol in
  * Fuzz.scala's scaladoc).
  */
class FuzzSuite extends SparkTestBase {

  private lazy val golden: Map[String, String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fuzz_golden.json"), "UTF-8")
    val text = try src.mkString finally src.close()
    // The golden file is a flat {"name": "hex"} object written by
    // Fuzz --golden; names and md5 hex never need unescaping.
    """"([^"]+)"\s*:\s*"([0-9a-f]{32})"""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }

  test("48 committed fuzz seeds reproduce their DuckDB-attested hashes") {
    assert(golden.size == 48, s"golden file should pin 48 cases, has ${golden.size}")
    val dir = Tables.scratchDir("graft_fuzz_suite_").toString
    val mismatches = (0 until 48).flatMap { seed =>
      val (name, df, _) = Fuzz.genCase(spark, dir, seed)
      val h = Fuzz.caseHash(df)
      golden.get(name) match {
        case None => Some(s"$name: not in golden file (generator drifted)")
        case Some(g) if g != h => Some(s"$name: hash $h != golden $g")
        case _ => None
      }
    }
    assert(mismatches.isEmpty,
      "fuzz regressions (reproduce per Fuzz.scala's protocol):\n" +
        mismatches.mkString("\n"))
  }

  test("every shape family appears in the pinned seed range") {
    for (s <- Seq("filter", "agg", "distinct", "join", "window",
        "sortlimit", "set", "tokens", "rollhash", "ngrams"))
      assert(golden.keySet.exists(_.contains(s"_$s")),
        s"no pinned seed exercises shape $s")
  }
}
