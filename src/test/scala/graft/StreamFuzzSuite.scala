package graft

import graft.tools.{Fuzz, StreamFuzz}

/** Streaming-fuzzer regression pins (r19 verdict #5). The full gate is
  * 600 seeded cases (300 per family) hash-matched against DuckDB via
  * tools/check.py, minted as STREAM_FUZZ.json; this suite re-RUNS the
  * first 16 seeds — 8 per family — as real AvailableNow streaming
  * queries (fresh checkpoint + parquet sink each) and compares each
  * case's content hash against the committed goldens, which were
  * DuckDB-attested by the same minted run. What the pins hold still:
  * the per-batch watermark progression semantics (the SPARK-40925
  * late-events/eviction watermark split the oracle models), the
  * ms-floored watermark arithmetic, the append-mode emission cutoff,
  * and dropDuplicatesWithinWatermark's late-row behavior — any engine
  * or generator change that shifts one of them fails here first, and
  * the failing seed IS the reproducer (StreamFuzz.scala's protocol).
  */
class StreamFuzzSuite extends SparkTestBase {

  private lazy val golden: Map[String, String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/stream_fuzz_golden.json"), "UTF-8")
    val text = try src.mkString finally src.close()
    """"([^"]+)"\s*:\s*"([0-9a-f]{32})"""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }

  test("16 committed streaming fuzz seeds reproduce their DuckDB-attested hashes") {
    assert(golden.size == 16,
      s"golden file should pin 16 cases, has ${golden.size}")
    val dir = Tables.scratchDir("graft_sfz_suite_").toString
    val mismatches = (0 until 16).flatMap { seed =>
      val (name, df, _) = StreamFuzz.genCase(spark, dir, seed)
      val h = Fuzz.caseHash(df)
      golden.get(name) match {
        case None => Some(s"$name: not in golden file (generator drifted)")
        case Some(g) if g != h => Some(s"$name: hash $h != golden $g")
        case _ => None
      }
    }
    assert(mismatches.isEmpty,
      "streaming fuzz regressions (reproduce per StreamFuzz.scala's protocol):\n" +
        mismatches.mkString("\n"))
  }

  test("both streaming shape families appear in the pinned seed range") {
    for (s <- Seq("wagg", "dedup"))
      assert(golden.keySet.exists(_.endsWith(s"_$s")),
        s"no pinned seed exercises streaming shape $s")
  }
}
