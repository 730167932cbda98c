package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Parse a flat {"name":sec,...} clean-reference file. Tolerant of
    * whitespace around the colon (any standard JSON writer emits
    * "k": v — the original no-space regex silently parsed such a file
    * as ZERO entries and disarmed the retime trigger) and of a
    * malformed entry (skipped, the rest still arm; a whole-file
    * failure must not be reproducible from one bad value). Pinned by
    * BenchRefSuite. */
  def parseRef(txt: String): Map[String, Double] =
    "\"([^\"]+)\"\\s*:\\s*([0-9.Ee+-]+)".r.findAllMatchIn(txt)
      .flatMap { m =>
        try Some(m.group(1) -> m.group(2).toDouble)
        catch { case _: NumberFormatException => None }
      }.filter(_._2.isFinite)
      // Underscore-prefixed keys are file provenance (e.g. a forced
      // mint stamps "_ref_forced":1), never query references — they
      // must not arm triggers or count into the ratchet totals.
      .filterNot(_._1.startsWith("_")).toMap

  /** Locale-rooted decimal formatting for every machine-parsed number
    * this file writes (minted ref values, split JSON): the f
    * interpolator uses the JVM default locale, and a comma-decimal
    * locale would mint "0,123"-style values that parseRef reads back
    * as the integer part — silent reference corruption (r13 advice). */
  def fmt3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private val strictJson = new com.fasterxml.jackson.databind.ObjectMapper()
    .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** True when `txt` is exactly one well-formed JSON value (a strict
    * Jackson parse; trailing tokens fail). An evidence file truncated
    * mid-object then partially rewritten, or with an unbalanced quote,
    * would otherwise be spliced verbatim into the artifact line and
    * make the WHOLE scored JSON unparseable. */
  def jsonBalanced(txt: String): Boolean =
    try !strictJson.readTree(txt).isMissingNode
    catch { case _: java.io.IOException => false }

  /** The committed crossover.json as a single-line JSON value for the
    * artifact, or "null" when absent/garbled. Minification strips
    * inter-token whitespace only (no string in the file spans lines);
    * anything that isn't a structurally balanced object — truncated
    * write, HTML error page, interior garble with unbalanced
    * quotes/braces — becomes "null" so it can't corrupt the artifact
    * line. Pinned by BenchRefSuite. */
  def crossoverBlock(txt: String): String = {
    val minified = txt.replaceAll("\\s*\\n\\s*", "").trim
    if (minified.startsWith("{") && minified.endsWith("}")
        && jsonBalanced(minified)) minified
    else "null"
  }

  /** Mint-commit stamp from an evidence file (bench_ref.json /
    * crossover.json / scalesweep.json). The ref file uses the
    * underscore-prefixed form so parseRef never treats it as a query. */
  def stampFromJson(txt: String): Option[String] =
    "\"_?mint_commit\"\\s*:\\s*\"([0-9a-f]{7,40})\"".r
      .findFirstMatchIn(txt).map(_.group(1))

  /** Staleness of a minted evidence file vs the running build (r14
    * verdict #2): evidence is STALE when its stamp is absent/unknown,
    * or when any non-test source changed since the stamp — committing
    * the minted file itself (or NOTES/artifacts) after minting must
    * NOT flag, so the judgment is "did src/main or build.sbt change
    * since the mint", not "is the stamp exactly HEAD". `diffSince`
    * returns the changed source files since a commit, or None when the
    * commit is unknown to the repo. Pinned by BenchRefSuite via an
    * injected diff. */
  def staleGiven(stamp: Option[String],
      diffSince: String => Option[Seq[String]]): Boolean = stamp match {
    case None => true
    case Some(s) => diffSince(s) match {
      case None => true
      case Some(files) => files.exists(_.trim.nonEmpty)
    }
  }

  /** Lines of a git command's stdout, None on failure — no shell, no
    * network; used only for evidence-staleness provenance. */
  private def gitLines(args: String*): Option[Seq[String]] = try {
    val p = new ProcessBuilder(("git" +: args): _*).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    p.getErrorStream.readAllBytes()
    if (p.waitFor() == 0) Some(out) else None
  } catch { case _: Throwable => None }

  def gitHead(): Option[String] =
    gitLines("rev-parse", "HEAD").flatMap(_.headOption)
      .map(_.trim).filter(_.length >= 7)

  /** Source files changed since `commit` (the staleness probe). */
  def gitDiffSince(commit: String): Option[Seq[String]] =
    gitLines("diff", "--name-only", s"$commit..HEAD", "--",
      "src/main", "build.sbt").map(_.filter(_.trim.nonEmpty))

  def mintStale(stamp: Option[String]): Boolean =
    staleGiven(stamp, gitDiffSince)

  /** Compact embed of the committed scalesweep.json (r14 verdict #3):
    * mint stamp + factor + FLAGGED list + the 10 WORST per-query ×N
    * ratios (the full table stays in the committed file — the artifact
    * line carries only what a reader needs to spot super-linear
    * growth). "null" when the file is absent or garbled. Pinned by
    * BenchRefSuite. */
  def scalesweepEmbed(txt: String): String = {
    if (!jsonBalanced(txt.trim)) return "null"
    val ratStart = txt.indexOf("\"ratios\":{")
    if (ratStart < 0) return "null"
    val ratEnd = txt.indexOf('}', ratStart)
    if (ratEnd < 0) return "null"
    val ratios = parseRef(txt.substring(ratStart, ratEnd + 1))
    if (ratios.isEmpty) return "null"
    val flagged = "\"flagged\"\\s*:\\s*(\\[[^\\]]*\\])".r
      .findFirstMatchIn(txt).map(_.group(1)).getOrElse("[]")
    val factor = "\"factor\"\\s*:\\s*([0-9]+)".r
      .findFirstMatchIn(txt).map(_.group(1)).getOrElse("null")
    val stamp = stampFromJson(txt).map("\"" + _ + "\"").getOrElse("null")
    val worst = ratios.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => s""""$k":${fmt3(v)}""" }.mkString("{", ",", "}")
    s"""{"mint_commit":$stamp,"factor":$factor,"n":${ratios.size},""" +
      s""""flagged":$flagged,"worst10":$worst}"""
  }

  /** Single-thread CPU calibration kernel: a fixed xorshift64* loop
    * whose checksum is asserted (no dead-code elimination, no input
    * dependence). Motivation (r15, measured): the same binary read
    * 23.4 → 27.1 s across one day with ZERO recorded steal — memory-
    * bandwidth/LLC noisy-neighbor drift the steal counter cannot see.
    * The kernel's time rides the artifact ("calib_s") and the minted
    * reference ("_calib_s", parseRef-inert), so a reader can divide
    * uniform sweep slowness into box drift vs binary regression.
    * Advisory only — no trigger keys off it (a uniform-drift trigger
    * would mask genuine whole-inventory regressions behind any
    * coincident drift). */
  def calibKernel(): Double = bestOf3("calibration kernel") { () =>
    var x = 0x9e3779b97f4a7c15L; var acc = 0L; var i = 0
    while (i < 200000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545f4914f6cdd1dL
      i += 1
    }
    acc
  }

  /** Memory-BANDWIDTH calibration kernel (r19 verdict #2): a STREAM-
    * style triad (a(i) = b(i) + 3·c(i)) over three 32M-long arrays
    * (256 MB each, 768 MB total — far past any LLC on this box), with
    * a checksum fold so the stores cannot be eliminated. Motivation:
    * calibKernel is register/ALU-bound and reads FLAT through the
    * ~15% memory-subsystem box drift NOTES r19 measured (whole-sweep
    * totals 21.8→25 s with calib_s unchanged and zero steal) — which
    * deadlocked an honest bench_ref re-mint against the calibration-
    * normalized ratchet. Shuffle-heavy sweeps are bandwidth-bound, so
    * the mint gate now normalizes by the geometric mean of BOTH
    * ratios (see refMintRefusal); this kernel rides the artifact as
    * "calib_mem_s" and the minted ref as "_calib_mem_s". Like the CPU
    * kernel it is advisory-plus-mint-gate only: no per-query trigger
    * keys off it. */
  def calibMemKernel(): Double = {
    val n = 32 * 1024 * 1024
    val a = new Array[Long](n); val b = new Array[Long](n); val c = new Array[Long](n)
    var i = 0
    var x = 0x9e3779b97f4a7c15L
    while (i < n) { // deterministic fill (also pre-faults the pages)
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      b(i) = x; c(i) = x * 0x2545f4914f6cdd1dL; i += 1
    }
    bestOf3("memory calibration kernel") { () =>
      var j = 0
      while (j < n) { a(j) = b(j) + 3L * c(j); j += 1 }
      var acc = 0L; var k = 0
      while (k < n) { acc += a(k); k += 262144 } // 128-sample fold
      acc
    }
  }

  /** The calibration harness: one untimed JIT-warm run, then the best
    * wall time of 3 timed runs. `run` returns its checksum, which must
    * be non-zero and equal across the timed runs (no dead-code
    * elimination, no input dependence). */
  private def bestOf3(what: String)(run: () => Long): Double = {
    require(run() != 0L)
    val timed = Seq.fill(3) {
      val t0 = System.nanoTime()
      val sum = run()
      ((System.nanoTime() - t0) / 1e9, sum)
    }
    require(timed.map(_._2).distinct.size == 1, s"$what nondeterministic")
    timed.map(_._1).min
  }

  /** One timed sweep's verdict surface, for the retry decision. */
  final case class SweepSummary(total: Double, contaminated: Boolean,
    steal: Option[Long], flaggedN: Int)

  /** Which of (up to) two whole-sweep attempts the artifact promotes
    * (r14 verdict #1: the scored r14 sweep landed in a 14,678-jiffy
    * steal burst, honestly self-flagged contaminated:true — and had no
    * second try, so the round's scored record was the burst number
    * while the binary was the fastest yet). Preference order: the
    * non-contaminated attempt; fewer suspect+over_ref flags; lower
    * whole-sweep steal (unreadable = worst); lower total. Returns the
    * 1-based attempt index. Pinned by BenchRefSuite. */
  def chooseSweep(first: SweepSummary, second: Option[SweepSummary]): Int =
    second match {
      case None => 1
      case Some(b) =>
        if (first.contaminated != b.contaminated) { if (b.contaminated) 1 else 2 }
        else if (first.flaggedN != b.flaggedN) { if (b.flaggedN < first.flaggedN) 2 else 1 }
        else {
          val as = first.steal.getOrElse(Long.MaxValue)
          val bs = b.steal.getOrElse(Long.MaxValue)
          if (as != bs) { if (bs < as) 2 else 1 }
          else if (b.total < first.total) 2 else 1
        }
    }

  /** The second retime trigger (r12 verdict #1): a scored min is
    * over-reference when it exceeds its clean reference by >1.5×
    * RELATIVE and >80 ms ABSOLUTE — the relative bar catches
    * agreement-under-load the steal counter can't see, the absolute
    * floor keeps sub-0.1 s scheduler jitter from flagging. A query
    * with no reference entry never flags (a new query's first sweep
    * mints its reference). */
  def overRef(ref: Map[String, Double], name: String, sec: Double): Boolean =
    ref.get(name).exists(r => sec > r * 1.5 && sec - r > 0.08)

  /** Gate for MINTING a new clean reference (SPARK_GRAFT_REF_OUT):
    * returns the refusal reason, or None when the sweep may write.
    * Beyond the per-query contaminated verdict, two sweep-level checks
    * close a ratchet hole found in r13: a sweep under SUSTAINED
    * moderate steal (2.3% of capacity vs 0.15% quiet) inflated every
    * min ~1.22× without tripping any per-query 1.5× flag — minting
    * from it would loosen the guard each round until the trigger is
    * disarmed. So: (a) the whole-sweep steal fraction must stay under
    * 1% of wall×cpus capacity; (b) over the keys both sides share, the
    * candidate's total must not exceed the reference it replaces by
    * >10% — a genuine whole-sweep regression should be investigated,
    * never silently become the new baseline.
    *
    * `force` (SPARK_GRAFT_REF_FORCE=1) is the SANCTIONED escape for a
    * deliberate whole-sweep regression (heavier declared work in a
    * later round): without it, the over_ref trigger fires on the
    * genuinely-slower binary, the sweep reads contaminated:true, the
    * mint gate refuses, and every future sweep strands on the stale
    * reference (r13 verdict #4 — the former escape was "delete the old
    * ref", folklore not workflow). Force bypasses exactly the two
    * checks a legitimate regression trips — the contaminated verdict
    * and the 1.10× ratchet — and NEVER the steal gates: minting under
    * hypervisor load is garbage regardless of intent. A forced mint is
    * stamped "_ref_forced":1 in the file and "ref_forced":true in the
    * artifact.
    *
    * The 1.10× ratchet is CALIBRATION-NORMALIZED (r16 verdict #1): it
    * deadlocked once when a 19.01 s mint landed in the day's one fast
    * box phase and pinned the bar at 20.91 s while the box settled at
    * 21–24 s — every honest quiet re-mint was refused and the ref had
    * to go through REF_FORCE. Both sides already measure box speed
    * (the checksum-asserted calibKernel: candidate's `calib_s`, the
    * ref's `_calib_s` stamp), so the candidate total is scaled to the
    * REF's box speed — × calibRef/calibCandidate, the factor clamped
    * to [0.67, 1.5] (covers every drift band observed on this box,
    * r15's 23.4→27.1 s included, while a corrupt calib can never
    * launder a ≥1.65× genuine regression through the gate) — before
    * the 1.10× test. Symmetric: a candidate minted in a FAST window
    * normalizes UP against a normal-speed ref, so box luck cannot
    * slip a regression under the bar either. Missing calib on either
    * side (pre-r15 refs) degrades to the raw test. Pinned by
    * BenchRefSuite (including the 19.01-pin stranding repro). */
  def refMintRefusal(contaminated: Boolean, stealDelta: Option[Long],
      capacityJiffies: Double, candidate: Map[String, Double],
      current: Map[String, Double], force: Boolean = false,
      calibCandidate: Double = -1.0,
      calibRef: Option[Double] = None,
      calibMemCandidate: Double = -1.0,
      calibMemRef: Option[Double] = None): Option[String] = {
    val common = candidate.keySet intersect current.keySet
    val candTot = common.toSeq.map(candidate).sum
    val curTot = common.toSeq.map(current).sum
    // DUAL calibration normalization (r19 verdict #2): the sweep's
    // cost is a blend of ALU work and memory traffic, and the two
    // drift independently on this box (r19: ~15% whole-sweep slowdown
    // with calib_s FLAT — pure memory-subsystem drift the CPU kernel
    // cannot see, which stranded an honest re-mint). When both sides
    // carry both kernels, the factor is the GEOMETRIC MEAN of the two
    // ratios — an even blend that neither kernel can dominate and a
    // corrupt single kernel can only pull by its square root. Degrades
    // to the CPU-only ratio against pre-r20 refs, and to raw (1.0)
    // against pre-r15 refs. Same [0.67, 1.5] clamp as before.
    def ratio(ref: Option[Double], cand: Double): Option[Double] =
      ref.filter(_ > 0).flatMap(r => if (cand > 0) Some(r / cand) else None)
    val normFactor: Double = {
      val cpu = ratio(calibRef, calibCandidate)
      val mem = ratio(calibMemRef, calibMemCandidate)
      val blended = (cpu, mem) match {
        case (Some(c), Some(m)) => math.sqrt(c * m)
        case (Some(c), None)    => c
        // A mem-only reading (CPU kernel failed on the candidate while
        // both sides carry the mem stamp) uses the bandwidth ratio
        // alone — falling through to raw 1.0 silently dropped the one
        // drift signal available, asymmetric with the CPU-only arm
        // (r20 advice).
        case (None, Some(m))    => m
        case _                  => 1.0
      }
      // Corrupt-stamp fallback (r21): a blended ratio beyond [0.5, 2]
      // is NOT box drift — 21 rounds of kernel history on this box
      // span quiet calib_s 0.387–0.456 (±9%) and the worst recorded
      // whole-sweep drift band is ~30% — it is a stamp measured inside
      // a burst (the r20 forced mint stamped _calib_s 1.098, 2.5–2.8×
      // every quiet reading before or since). CLAMPING such a ratio to
      // the boundary asserts maximum drift exactly when the stamp is
      // garbage, which stranded every honest r21 re-mint (candidate
      // 21.4 s raw vs ref 26.5 s read "32.2 s calib-adjusted" at the
      // 1.5 clamp). Beyond the envelope the gate now degrades to the
      // RAW ratchet — the same degradation path as a missing stamp —
      // so a corrupt stamp can strand nothing and launder at most the
      // raw 1.10×. A >2× genuinely-faster window has never been
      // observed on this box; if one ever occurs, the raw test err on
      // the tight side (refuses loosening), never the loose one.
      if (blended < 0.5 || blended > 2.0) 1.0
      else math.max(0.67, math.min(1.5, blended))
    }
    val candAdj = candTot * normFactor
    if (stealDelta.isEmpty) Some("steal unreadable")
    else if (capacityJiffies > 0 && stealDelta.get > 0.01 * capacityJiffies)
      Some(f"sweep steal ${stealDelta.get} jiffies > 1%% of capacity $capacityJiffies%.0f")
    else if (!force && contaminated) Some("sweep verdict contaminated")
    else if (!force && common.nonEmpty && curTot > 0 && candAdj > 1.10 * curTot)
      Some(f"candidate total $candTot%.2f s (calib-adjusted $candAdj%.2f, factor $normFactor%.3f) > 1.10x current ref $curTot%.2f s over ${common.size} shared keys")
    else None
  }

  /** Committed evidence files, read from the working directory. */
  val RefFile = "bench_ref.json"
  val CrossoverFile = "crossover.json"
  val ScalesweepFile = "scalesweep.json"

  /** One timed run of one query: wall seconds, the guest steal jiffies
    * its window lost (-1 when unreadable), and whether it succeeded. */
  final case class Sample(sec: Double, steal: Long, ok: Boolean)

  /** A sample is steal-suspect when its window lost more than 25% of
    * its whole-VM CPU capacity (elapsed × cpus × USER_HZ jiffies) to
    * the hypervisor — far above the ~4% background the bench host
    * shows when "quiet", far below the ~100% of a stall burst. The 50-jiffy
    * floor keeps sub-0.1 s queries from flagging on background noise. */
  def isSuspect(s: Sample, cpus: Int): Boolean =
    s.steal >= 0 && s.steal > math.max(50L, (0.25 * s.sec * cpus * 100).toLong)

  /** One full timed sweep and its verdict. `samples` keeps every run
    * per query in run order; `results` is the scored min per query, -1
    * when any of its runs failed (a failure must surface, not shrink
    * the total as a bogus fast timing); `suspect`/`overRef` list the
    * queries whose scored sample is still steal-suspect or still over
    * its clean reference after the retime budget. */
  final case class Sweep(samples: Seq[(String, Seq[Sample])],
      results: Seq[(String, Double)], retimed: Seq[String],
      suspect: Seq[String], overRef: Seq[String],
      stealDelta: Option[Long], capacity: Double,
      loadStart: Double, loadEnd: Double) {
    /** Sweep-level verdict: any scored value still steal-suspect or
      * over its reference. A clean sweep on a quiet box reads false. */
    def contaminated: Boolean = suspect.nonEmpty || overRef.nonEmpty
    /** Failures are excluded (visible as -1 per query). */
    def total: Double = results.map(_._2).filter(_ >= 0).sum
    def summary: SweepSummary =
      SweepSummary(total, contaminated, stealDelta, suspect.size + overRef.size)
  }

  /** The timing policy of one sweep. `time` runs one query once
    * (seconds, succeeded); `steal` reads the cumulative guest steal
    * counter (-1 = unreadable); `quiet` waits (bounded) for steal to
    * settle before a retime; `ref` holds the per-query clean
    * references; `cpus` sizes the steal capacity.
    *
    * - Two interleaved passes, not back-to-back runs: the bench host
    *   shows BURSTY hypervisor steal (multi-second whole-VM stalls invisible
    *   to loadavg), and back-to-back samples of one query sit inside
    *   the same burst (r8: llm_tfidf scored 10.48 s in both scored runs
    *   vs 0.72 s quiet). A full pass between a query's two samples
    *   means a burst must span the whole sweep to cover both. Min, not
    *   mean: contention only ever ADDS time.
    * - A third pass for queries whose best sample is under 0.3 s, where
    *   small-sample jitter distorts per-shape ratios most (r10 advice
    *   #5: agg_q1 0.196 s vs 0.120 s on identical code) — ~5 s more.
    * - A retime pass: while a query's best sample is steal-suspect, OR
    *   over its clean reference (steal-keyed retiming provably missed
    *   real contamination, r12: scan_compact kept 1.62 s vs 0.82 s
    *   quiet with zero recorded steal), OR — with steal unreadable —
    *   its samples disagree by >1.5×, it is re-run after `quiet`: at
    *   most 3 extra runs per query and 60 in the whole sweep. */
  def sweep(queries: Seq[String], time: String => (Double, Boolean),
      steal: () => Long, quiet: () => Unit, ref: Map[String, Double],
      cpus: Int): Sweep = {
    val loadStart = loadavg()
    val stealStart = steal()
    val wall0 = System.nanoTime()
    val samples = scala.collection.mutable.LinkedHashMap(
      queries.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Sample]): _*)
    def timeOne(name: String): Unit = {
      val s0 = steal()
      val (el, ok) = time(name)
      val s1 = steal()
      samples(name) += Sample(el, if (s0 < 0 || s1 < 0) -1L else s1 - s0, ok)
    }
    def oks(name: String): Seq[Sample] = samples(name).filter(_.ok).toSeq
    def best(name: String): Option[Sample] = oks(name).minByOption(_.sec)
    for (_ <- 1 to 2; name <- queries) timeOne(name)
    for (name <- queries if best(name).exists(_.sec < 0.3)) timeOne(name)
    def needsRetime(name: String): Boolean = best(name).exists { b =>
      overRef(ref, name, b.sec) || {
        if (b.steal >= 0) isSuspect(b, cpus)
        else {
          val ts = oks(name).map(_.sec)
          ts.size >= 2 && ts.max > ts.min * 1.5
        }
      }
    }
    var budget = 60
    val retimed = scala.collection.mutable.ArrayBuffer.empty[String]
    for (name <- queries) {
      var extra = 0
      while (needsRetime(name) && extra < 3 && budget > 0) {
        if (extra == 0) retimed += name
        quiet()
        timeOne(name)
        extra += 1; budget -= 1
      }
    }
    val loadEnd = loadavg()
    val stealEnd = steal()
    // Whole-sweep capacity (jiffies): wall seconds between the steal
    // endpoints × cpus × USER_HZ — the ref-mint steal gate's denominator.
    val capacity = (System.nanoTime() - wall0) / 1e9 * cpus * 100
    val results = samples.toSeq.map { case (name, ss) =>
      name -> (if (ss.exists(!_.ok) || ss.isEmpty) -1.0 else ss.map(_.sec).min) }
    Sweep(samples.toSeq.map { case (k, ss) => k -> ss.toSeq }, results,
      retimed.toSeq,
      samples.keys.filter(n => best(n).exists(isSuspect(_, cpus))).toSeq,
      samples.keys.filter(n => best(n).exists(b => overRef(ref, n, b.sec))).toSeq,
      if (stealStart < 0 || stealEnd < 0) None else Some(stealEnd - stealStart),
      capacity, loadStart, loadEnd)
  }

  private def loadavg(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** Cumulative guest steal time (jiffies, /proc/stat col 8; USER_HZ =
    * 100 on Linux). -1 = unreadable, emitted as null so it can't
    * masquerade as "quiet". */
  def stealJiffies(): Long = try {
    scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)
  } catch { case _: Throwable => -1L }

  /** Wait (at most 12 × 250 ms) for the steal rate to drop below ~20%
    * of capacity before a retime — re-running INSIDE the same burst
    * just burns the budget on another contaminated sample. */
  def awaitQuiet(steal: () => Long, cpus: Int): Unit = {
    var tries = 0
    while (tries < 12) {
      val s0 = steal()
      Thread.sleep(250)
      val d = if (s0 < 0) -1L else steal() - s0
      if (d < 0 || d <= (0.20 * 0.25 * cpus * 100).toLong) return
      tries += 1
    }
  }

  def readText(path: String): Option[String] = try {
    Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))
  } catch { case _: Throwable => None }

  /** The whole-sweep second try (r14 verdict #1): a sustained steal
    * burst contaminates the whole sweep, which the per-query retime
    * budget cannot rescue, so a contaminated first sweep is re-run once
    * (after `quiet`) over the same warm state; the caller promotes the
    * cleaner attempt through [[chooseSweep]]. */
  def retryOnce(run: => Sweep, quiet: () => Unit): Seq[Sweep] = {
    val first = run
    if (first.contaminated) { quiet(); Seq(first, run) } else Seq(first)
  }

  private def str(s: String): String = "\"" + s + "\""
  private def jstr(o: Option[String]): String = o.map(str).getOrElse("null")
  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** A numeric provenance stamp (`_calib_s`, `_calib_mem_s`, `_cpus`)
    * of the reference file; parseRef ignores these keys. */
  def refStamp(txt: String, key: String): Option[Double] =
    ("\"" + key + "\"\\s*:\\s*([0-9.]+)").r.findFirstMatchIn(txt)
      .flatMap(_.group(1).toDoubleOption)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val nCpus = try { cpus.toInt } catch { case _: Throwable => 32 }
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark, sfDir)

    // Evidence files. The per-query clean reference arms the over-ref
    // retime trigger and the mint ratchet; crossover.json (Spark vs
    // DuckDB per shape, minted per round by CrossoverProbe +
    // tools/crossover_duckdb.py) and scalesweep.json (the ×10
    // full-inventory audit) ride the artifact — timing them inside the
    // scored run would contaminate it.
    val refTxt = readText(RefFile)
    val crossoverTxt = readText(CrossoverFile)
    val scalesweepTxt = readText(ScalesweepFile)
    val refTimes = refTxt.map(parseRef).getOrElse(Map.empty[String, Double])
    val calibRef = refTxt.flatMap(refStamp(_, "_calib_s"))
    val calibMemRef = refTxt.flatMap(refStamp(_, "_calib_mem_s"))
    val refCpus = refTxt.flatMap(refStamp(_, "_cpus"))

    val queries = SparkEntry.queries.keys.toSeq
    // Warm pass (untimed — also fills the Prepared cache); the plans
    // stay pinned for the sweep's duration (see warmPin).
    val pinned = warmPin(spark, sfDir, queries)
    // Box-speed calibration, timed OUTSIDE the sweep windows.
    val calib = try calibKernel() catch { case _: Throwable => -1.0 }
    val calibMem = try calibMemKernel() catch { case _: Throwable => -1.0 }

    // Both attempts ride the artifact ("sweep_attempts"). No JIT-settle
    // wait before the first pass: the r20 A/B found C2 already quiet
    // after warmPin.
    val quiet = () => awaitQuiet(() => stealJiffies(), nCpus)
    val attempts = retryOnce(sweep(queries, timeCount(spark, sfDir, _),
      () => stealJiffies(), quiet, refTimes, nCpus), quiet)
    val chosen = chooseSweep(attempts.head.summary, attempts.lift(1).map(_.summary))
    val att = attempts(chosen - 1)

    val splitJson = split(spark, sfDir, att.results.map(_._1))

    val refCommit = refTxt.flatMap(stampFromJson)
    val xCommit = crossoverTxt.flatMap(stampFromJson)
    // Sanctioned ref-regression escape: force-minting is loud — the
    // artifact itself says the ratchet was bypassed.
    val refForce = Set("1", "true", "on").contains(
      sys.env.getOrElse("SPARK_GRAFT_REF_FORCE", "").toLowerCase)
    val head = Seq("metric" -> str("total"), "value" -> att.total.toString,
      "unit" -> str("sec"),
      "queries" -> obj(att.results.map { case (k, v) => k -> v.toString }))
    val verdict = Seq("retimed" -> arr(att.retimed.map(str)),
      "suspect" -> arr(att.suspect.map(str)),
      "over_ref" -> arr(att.overRef.map(str)))
    val ctx = Seq(
      // All eight streaming entries reuse one durable checkpoint per
      // (session, sf, query): their TIMED samples measure the
      // AvailableNow RESTART path; the backlog is paid once, untimed.
      "streaming_timed_mode" -> str("warm_checkpoint_restart"),
      "batch_timed_mode" -> str("prepared_plan_reuse"),
      "contaminated" -> att.contaminated.toString,
      "ref_forced" -> refForce.toString,
      "ref_queries" -> refTimes.size.toString,
      "sweep_attempts" -> arr(attempts.map(a => obj(Seq(
        "total" -> fmt3(a.total), "contaminated" -> a.contaminated.toString,
        "steal_jiffies" -> a.stealDelta.map(_.toString).getOrElse("null"),
        "suspect_n" -> a.suspect.size.toString,
        "over_ref_n" -> a.overRef.size.toString)))),
      "sweep_chosen" -> chosen.toString,
      // Mint provenance: "stale" = src/main or build.sbt changed since
      // the evidence was minted, i.e. it measured a different binary.
      "ref_commit" -> jstr(refCommit), "ref_stale" -> mintStale(refCommit).toString,
      "crossover_commit" -> jstr(xCommit), "crossover_stale" -> mintStale(xCommit).toString,
      "scalesweep_stale" -> mintStale(scalesweepTxt.flatMap(stampFromJson)).toString,
      // The scratch tier in use (the /dev/shm default can degrade).
      "scratch_tier" -> str(if (spark.sparkContext.getConf.get("spark.local.dir", "")
        .startsWith("/dev/shm")) "shm" else "disk"),
      "calib_s" -> fmt3(calib),
      "calib_ref" -> calibRef.map(fmt3).getOrElse("null"),
      "calib_mem_s" -> fmt3(calibMem),
      "calib_mem_ref" -> calibMemRef.map(fmt3).getOrElse("null"),
      // The CPU config the reference was minted under: a cpus=4 run
      // against a cpus=32 ref reads over_ref by design, and this field
      // lets the reader tell that from a regression.
      "ref_cpus" -> refCpus.map(_.toLong.toString).getOrElse("null"),
      "prepared_pinned" -> pinned.size.toString,
      "loadavg_start" -> att.loadStart.toString, "loadavg_end" -> att.loadEnd.toString,
      "steal_jiffies" -> att.stealDelta.map(_.toString).getOrElse("null"),
      "cpus" -> cpus)
    val sf = Seq("sf" -> str(sfDir))
    // Per-run times AND per-run steal deltas make the artifact
    // self-diagnosing: a burst shows as one inflated sample with a
    // matching steal spike. These and the embeds ride only the full
    // line (and its file copy).
    val fullLine = obj(head ++ Seq(
      "runs" -> obj(att.samples.map { case (k, ss) => k -> arr(ss.map(_.sec.toString)) }),
      "steals" -> obj(att.samples.map { case (k, ss) =>
        k -> arr(ss.map(s => if (s.steal < 0) "null" else s.steal.toString)) })) ++
      verdict ++ Seq("split" -> splitJson,
        "crossover" -> crossoverTxt.map(crossoverBlock).getOrElse("null"),
        "scalesweep" -> scalesweepTxt.map(scalesweepEmbed).getOrElse("null")) ++
      ctx ++ sf)
    println(fullLine)
    // Also persist the full line as a FILE: stdout capture has
    // truncated it before, and a file read can't be cut by a tail
    // window. Best-effort: a write failure must never kill the run.
    try {
      val out = java.nio.file.Paths.get("target", "bench_summary.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] summary file write failed (continuing): ${e.getMessage}")
    }
    // The CANONICAL line comes LAST and stays small (no runs/steals or
    // embeds) so a tail window always holds it whole.
    println(obj(head ++ Seq("n" -> att.results.size.toString,
      "failed" -> att.results.count(_._2 < 0).toString) ++ verdict ++
      Seq("slowest" -> obj(att.results.sortBy(-_._2).take(10)
        .map { case (k, v) => k -> v.toString })) ++ ctx ++ sf))

    // SPARK_GRAFT_REF_OUT=<path> mints this sweep's per-query mins as
    // the next reference — only through the refMintRefusal gate.
    sys.env.get("SPARK_GRAFT_REF_OUT").foreach { p =>
      val candidate = att.results.filter(_._2 >= 0)
      refMintRefusal(att.contaminated, att.stealDelta, att.capacity,
          candidate.toMap, refTimes, force = refForce,
          calibCandidate = calib, calibRef = calibRef,
          calibMemCandidate = calibMem, calibMemRef = calibMemRef) match {
        case Some(reason) =>
          System.err.println(s"[bench] NOT writing ref: $reason")
        case None =>
          // Provenance stamps ride IN the file: parseRef drops
          // "_"-prefixed keys, so none ever arms a trigger.
          val prov = gitHead().map(h => "_mint_commit" -> str(h)).toSeq ++
            Option.when(calib > 0)("_calib_s" -> fmt3(calib)) ++
            Option.when(calibMem > 0)("_calib_mem_s" -> fmt3(calibMem)) ++
            Option.when(cpus.forall(_.isDigit))("_cpus" -> cpus) ++
            Option.when(refForce)("_ref_forced" -> "1")
          java.nio.file.Files.write(java.nio.file.Paths.get(p),
            (obj(prov ++ candidate.map { case (k, v) => k -> fmt3(v) }) + "\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          System.err.println(
            s"[bench] wrote ref to $p${if (refForce) " (FORCED past the ratchet)" else ""}")
      }
    }
    spark.stop()
  }

  /** One-time JVM warm-up before any timed work, so the first timed
    * query doesn't absorb ~5 s of JIT/codegen/shuffle/parquet set-up.
    * Best-effort: a failure here must never kill the timed run. */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = try {
    import org.apache.spark.sql.functions.{broadcast, col, collect_list, lit}
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count().collect()
    // Warm the native cosine kernels on tiny synthetic vectors (40k
    // pair evaluations — enough for C2 to compile the inner loops).
    GraftSession(spark)
    val v = spark.range(200).selectExpr("id",
      "transform(sequence(0, 15), i -> cast((id * 31 + i) % 97 as float) / 97) as embedding")
    val packed = v
      .selectExpr("struct(id as vec_id, sqrt(graft_dot(embedding, embedding)) as nrm, embedding) as s")
      .agg(collect_list("s").as("vs")).withColumn("j", lit(0))
    v.withColumn("j", lit(0)).join(broadcast(packed), "j")
      .selectExpr("explode(graft_cos_topk(id, embedding, vs, 3)) as p").count()
    v.withColumn("j", lit(0)).join(broadcast(packed), "j")
      .selectExpr("explode(graft_cos_nbrs(id, embedding, vs, cast(0.5 as double))) as p").count()
    // Warm the broadcast-join machinery (exchange thread pool, torrent
    // broadcast) and the Structured Streaming engine (microbatch
    // planner, state store, memory sink) on the 25-row nation table —
    // shared one-time costs, not query-specific work.
    val nat = spark.read.parquet(s"$sfDir/nation.parquet")
    nat.join(broadcast(spark.read.parquet(s"$sfDir/region.parquet")),
      col("n_regionkey") === col("r_regionkey")).count()
    spark.readStream.schema(nat.schema)
      .option("pathGlobFilter", "nation.parquet").parquet(sfDir)
      .groupBy("n_regionkey").count()
      .writeStream.format("memory").queryName("graft_warm_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    spark.catalog.dropTempView("graft_warm_stream")
  } catch { case e: Throwable =>
    System.err.println(s"[bench] warmup failed (continuing): ${e.getMessage}")
  }

  /** PLAN/EXEC split for the BASELINE.md comparison shapes, min of 2,
    * run after the timed sweep so it can't pollute the samples: plan_s
    * = fresh builder + analysis + optimization + physical planning (the
    * cost prepared reuse amortizes); exec_s = a prepared `.count()`,
    * the same protocol as the timed samples, so exec_s ≈ the query's
    * scored value. "{}" when any shape fails. */
  private def split(spark: SparkSession, sfDir: String, scored: Seq[String]): String = try {
    val shapes = graft.tools.CrossoverProbe.Shapes.filter(scored.contains).map { name =>
      val (ps, es) = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
        val p = (System.nanoTime() - t0) / 1e9
        val (e, ok) = timeCount(spark, sfDir, name)
        require(ok, s"split exec of $name failed")
        (p, e)
      }.unzip
      s""""$name":{"plan_s":${fmt3(ps.min)},"exec_s":${fmt3(es.min)}}"""
    }
    (shapes :+ (""""protocol":"plan_s=fresh build+physical planning """ +
      """(the cost prepared reuse amortizes); exec_s=prepared count(), """ +
      """same protocol as the timed samples"""")).mkString("{", ",", "}")
  } catch { case _: Throwable => "{}" }

  /** The bench session, shared by every harness main that times
    * queries or synthesizes corpora (CrossoverProbe, ScaleSweep,
    * PqProbe, SynthTables); perfbench.Main.setup keeps an equal copy.
    * `cpus` is both the local core count and the shuffle partition
    * count. */
  def session(cpus: String): SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE stays ON (the at-scale behavior: runtime skew split /
      // partition coalescing).
      .config("spark.sql.adaptive.enabled", "true")
      // Size the generated-class cache to the workload (static conf,
      // default 100 entries): a 167-query sweep cycles far more than
      // 100 generated classes, so by the time a query's SECOND timed
      // pass arrives its classes are evicted and every stage pays
      // janino recompilation again. graph_pagerank — the widest plan,
      // ~9 jobs per run — read 2.4–2.8 s inside every full sweep vs
      // 1.3–1.6 s isolated for two rounds straight; with the cache
      // sized to the sweep the in-sweep number IS the isolated number
      // (r11 A/B: before 1.97/1.70/1.50 s, after-166-queries
      // 1.44/1.25/1.31 s at 5000 entries vs 2.66 s first-run-after at
      // the default). Same knob a long-lived production session serving
      // a wide query mix would set.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // AQE's partition-coalescing floor stays at the 1m DEFAULT — a
      // deliberate, measured decision, not an oversight. A five-sweep
      // A/B (r12, an isolated floor probe + full-inventory runs at 1m /
      // 256kb / 128kb / 64kb) showed lowering the floor re-parallelizes
      // small-shuffle queries (total 35.0 -> 32.2-33.5 s) but taxes
      // every ITERATIVE plan with per-iteration task-launch overhead
      // (graph_pagerank 1.34 -> 1.8-2.6 s, win_islands and ev_funnel
      // regress at 64kb) — a regression trade, not a win. The one
      // query whose gap was structural (llm_ann_ivf_probe: pair-cost
      // quadratic in cell size, input bytes linear, so byte-based
      // coalescing serialized ~800 k dot products onto one core) is
      // fixed where it belongs, in the operator (Ann.spreadByCell).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      // Shuffle scratch on the job-scoped fast tier (/dev/shm when
      // writable — same policy, and same cleanup hook, as
      // Tables.scratchDir): the ×100 crossover profile showed tiny
      // shuffles dominated by DiskBlockObjectWriter file create/open/
      // delete on disk-backed /tmp (bypass writer: numPartitions files
      // per map task), ~3.5× the samples of the aggregation itself on
      // ev_tumbling. A cluster deployment points local.dir at local
      // SSD for exactly this reason; durable outputs never live here.
      .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
        graft.Tables.scratchDir("graft_shuffle_").toString))
      // Shuffle writer choice for the 32-partition exchanges (Spark's
      // default, kept after the r14 A/B; see NOTES r14): bypass writes
      // numPartitions files per map task, sort writes one data+index pair.
      .config("spark.shuffle.sort.bypassMergeThreshold", "200")
      // Same session TZ as Verify: timestamp-literal filters must
      // select the same rows here as in the scored correctness run,
      // or a non-UTC box would time different work.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Warm pass of the prepared protocol: build each query through
    * `Prepared.df` and run it once (builder, analysis, codegen and JIT
    * for its plan). The returned DataFrames PIN the built plans for the
    * caller's sweep: the prepared cache holds its values weakly
    * (serving-host leak guard, r14 verdict #5), so without a strong
    * holder a major GC between passes could evict a plan and inject its
    * rebuild into a timed sample. Side-effecting builders
    * rebuild per call anyway; pinning their first build is harmless. */
  def warmPin(spark: SparkSession, sf: String, names: Seq[String]): Seq[DataFrame] =
    names.flatMap { n =>
      try { val df = graft.api.Prepared.df(spark, sf, n); df.count(); Some(df) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm $n @$sf failed: ${e.getMessage}"); None }
    }

  /** One timed prepared `.count()` of `name`: (seconds, succeeded).
    * The DataFrame is built once per query (the warm pass pays it) and
    * each timed `.count()` constructs a fresh QueryExecution over the
    * already-analyzed plan — a full job re-run (fresh shuffle ids, equal
    * task counts), skipping only the builder and per-Dataset analysis:
    * the prepared-statement protocol of a serving engine, which DuckDB's
    * ~1 ms planner makes BASELINE.md's warm repeats equivalent to.
    * Side-effecting builders (streaming restarts, write-path scans) are
    * never memoized, so for them this is a fresh build. */
  def timeCount(spark: SparkSession, sf: String, name: String): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok = try { graft.api.Prepared.df(spark, sf, name).count(); true }
      catch { case _: Throwable => false }
    ((System.nanoTime() - t0) / 1e9, ok)
  }
}
