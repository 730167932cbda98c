package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Differential fuzzer for the STREAMING surfaces (r19 verdict #5):
  * the batch fuzzer (Fuzz.scala) covers the relational core, but the
  * `readStream` family was oracle-checked only at the corpus's one
  * watermark horizon and one batch split. This generator randomizes
  * exactly the knobs that change streaming semantics — watermark
  * horizon, microbatch split (maxFilesPerTrigger=1 over 2–5 source
  * files with explicit mtime ordering), and LATE-row placement (every
  * batch draws timestamps over the full range independently, so later
  * batches routinely contain rows behind earlier batches' maxima, at
  * µs precision so the engine's ms-floored watermark arithmetic is on
  * the hook) — and checks each run against a DuckDB batch-cutoff
  * oracle that models Spark's per-batch watermark progression
  * explicitly.
  *
  * Two shape families (seed % 2):
  *
  *  0 `wagg` — watermarked tumbling-window aggregation in APPEND mode.
  *    Oracle rules (all probed live on Spark 4.1, pinned by the
  *    committed goldens + the minted STREAM_FUZZ artifact):
  *      - watermark before batch i = cumulative max over j<i of
  *        ms-FLOORED per-batch max event time, minus the delay
  *        (EventTimeStats collects ms; stats include rows the
  *        stateful operator later drops as late — the watermark node
  *        sits below the late filter);
  *      - a row is DROPPED iff its window END ≤ that watermark
  *        (WatermarkSupport puts the eviction predicate on the window
  *        struct's end when the event-time column is part of the key);
  *      - a window is EMITTED iff its end ≤ the FINAL watermark (the
  *        trailing no-data microbatch flushes with the last update).
  *
  *  1 `dedup` — `dropDuplicatesWithinWatermark` over keyed events
  *    whose duplicates carry the key's exact event time (the
  *    at-least-once-transport contract of ev_dedup_stream). With
  *    same-time duplicates the state-expiry corner collapses: a key
  *    whose state expired (wm > ts+delay) is necessarily LATE
  *    (ts < wm) on every later occurrence, so no key can emit twice
  *    and the oracle is one row per key that has ANY occurrence in a
  *    batch whose watermark had not yet passed its event time
  *    (row dropped iff ts ≤ wm, the scalar-attribute predicate).
  *
  * Determinism inherits the batch fuzzer's rules: both engines read
  * the same parquet bits; every case ends in a total ORDER BY; long
  * sums stay within 64-bit headroom; no doubles anywhere.
  *
  * Found-divergence protocol: same as Fuzz.scala — freeze the seed,
  * reproduce with `runMain graft.tools.StreamFuzz <outDir> <seed>
  * <seed+1>`, then `tools/check.py <anySf> <outDir>`; classify
  * engine-bug vs oracle-rule error against the Spark source
  * (statefulOperators.scala's WatermarkSupport) before touching
  * either side.
  *
  * Usage: runMain graft.tools.StreamFuzz <outDir> [fromSeed] [toSeed]
  *        runMain graft.tools.StreamFuzz --golden <jsonPath> [n]
  */
object StreamFuzz {

  private def rng(seed: Long) =
    new java.util.Random(seed * 2654435761L + 0x51ed2701L)

  /** 2021-01-01 UTC in µs — all event times are positive and far from
    * the epoch, so window flooring and watermark subtraction never go
    * negative (negative-epoch flooring is the BATCH fuzzer's tumbling
    * family's job; here the knobs under test are split/horizon/late). */
  private val BaseUs = 1609459200L * 1000000L
  private val RangeUs = 300L * 1000000L // 5 minutes of event time

  private val KeyPool: IndexedSeq[String] =
    IndexedSeq(null, "a", "b", "cc", "the", "日本", "z")

  final case class StreamIn(name: String, srcDir: String,
      nBatches: Int)

  /** One event-time draw: µs precision, 25% snapped to a whole second
    * (ms-floor and window-edge collisions), 15% strongly late. */
  private def drawTs(r: java.util.Random): Long = {
    var off = (r.nextDouble() * RangeUs).toLong
    if (r.nextInt(4) == 0) off = off / 1000000L * 1000000L
    if (r.nextInt(7) == 0) off = math.max(0L, off - 200L * 1000000L)
    BaseUs + off
  }

  private val srcSchema = StructType(Seq(
    StructField("batch", IntegerType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("k", StringType),
    StructField("ts_us", LongType, nullable = false),
    StructField("v", LongType)))

  /** Write the per-batch source files: one FLAT parquet file per
    * microbatch with explicit, strictly-increasing mtimes so the
    * FileStreamSource's timestamp ordering is deterministic, and
    * maxFilesPerTrigger=1 maps file i → microbatch i. Idempotent per
    * (dir, seed): regeneration is skipped when the source exists, so
    * a replay reads identical bits. */
  private def genStream(spark: SparkSession, dir: String, seed: Int,
      rowsPerBatch: Seq[Seq[Row]]): StreamIn = {
    val name = f"sfz$seed%04d"
    val src = s"$dir/_in_stream/$name"
    val done = java.nio.file.Paths.get(src, "_GRAFT_DONE")
    if (!java.nio.file.Files.exists(done)) {
      new java.io.File(src).mkdirs()
      val stagingDir = graft.Tables.scratchDir("graft_sfz_stage_")
      val staging = stagingDir.toString
      try rowsPerBatch.zipWithIndex.foreach { case (rows, i) =>
        val stage = s"$staging/b$i"
        spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), srcSchema)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file written for $stage"))
        val dst = new java.io.File(src, f"b$i%02d.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // 60 s apart: far past any filesystem mtime granularity. The
        // return value is checked (r20 advice): a filesystem that
        // rejects the mtime would silently diverge FileStreamSource's
        // batch ordering from the generated `batch` column and the
        // per-batch watermark oracle.
        require(dst.setLastModified(1700000000000L + i * 60000L),
          s"setLastModified rejected on $dst — batch-order mtimes unusable")
      } finally graft.Tables.dropScratch(stagingDir)
      java.nio.file.Files.write(done, Array.emptyByteArray)
    }
    StreamIn(name, src, rowsPerBatch.size)
  }

  private def rp(src: String): String = s"read_parquet('$src/*.parquet')"

  /** Shared per-batch-watermark CTE prefix: e = the raw rows, w = each
    * batch's LATE-EVENTS watermark base. Probed live (seed-0 forensics
    * against the checkpoint's offsets log): Spark ≥3.4 filters late
    * records with the PREVIOUS microbatch's watermark while evicting
    * with the current one (SPARK-40925, late-events vs eviction
    * watermark — chained-stateful-operator support), so batch i's late
    * filter sees stats from batches ≤ i−2 — hence the 2-PRECEDING lag,
    * in RANGE (batch-index) space so empty batches don't shift it.
    * NULL before any such data = nothing is late. */
  private def wmCtes(src: String): String =
    s"WITH e AS (SELECT batch, k, ts_us, v FROM ${rp(src)}), " +
      "bm AS (SELECT batch, MAX(ts_us) AS mx FROM e GROUP BY batch), " +
      "w AS (SELECT batch, MAX(mx) OVER (ORDER BY batch " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS pm FROM bm) "

  /** Run one streaming query to a fresh parquet sink + checkpoint and
    * read the committed output back (every fuzz case is its own cold
    * stream, no checkpoint reuse). */
  private def runStream(spark: SparkSession, dir: String, name: String,
      streamed: DataFrame): DataFrame =
    graft.streaming.StreamDemo.appendToParquet(spark,
      java.nio.file.Paths.get(dir, "_stream_scratch", name),
      Seq("spark.sql.shuffle.partitions" -> "4"))(streamed)

  /** One streaming fuzz case: (name, executed result as a batch
    * DataFrame, DuckDB oracle SQL). The DataFrame is the read-back of
    * the stream's committed sink — calling this RUNS the stream. */
  def genCase(spark: SparkSession, dir: String, seed: Int): (String, DataFrame, String) = {
    val r = rng(seed)
    val nBatches = 2 + r.nextInt(4)
    seed % 2 match {
      case 0 => // watermarked tumbling-window aggregation, append mode
        val wsec = 1 + r.nextInt(13)
        val dsec = r.nextInt(61)
        val wUs = wsec * 1000000L; val dUs = dsec * 1000000L
        var id = 0L
        val batches = (0 until nBatches).map { b =>
          (0 until r.nextInt(21)).map { _ =>
            id += 1
            Row(b, id, KeyPool(r.nextInt(KeyPool.size)), drawTs(r),
              if (r.nextInt(8) == 0) null
              else java.lang.Long.valueOf(r.nextInt(2000001) - 1000000L))
          }
        }
        val in = genStream(spark, dir, seed, batches)
        val name = s"${in.name}_wagg"
        val streamed = spark.readStream.schema(srcSchema)
          .option("maxFilesPerTrigger", "1").parquet(in.srcDir)
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .withWatermark("ts", s"$dsec seconds")
          .groupBy(window(col("ts"), s"$wsec seconds"), col("k"))
          .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sv"))
          .select(col("window.start").cast("timestamp_ntz").as("ws"),
            col("window.end").cast("timestamp_ntz").as("we"),
            col("k"), col("cnt"), col("sv"))
        val df = runStream(spark, dir, name, streamed)
          .orderBy(asc("ws"), asc_nulls_first("k"))
        val sql = wmCtes(in.srcDir) +
          ", kept AS (SELECT e.k, e.v, e.ts_us - e.ts_us % " + wUs +
          " AS ws_us FROM e JOIN w USING (batch) " +
          s"WHERE w.pm IS NULL OR e.ts_us - e.ts_us % $wUs + $wUs > " +
          s"(w.pm // 1000) * 1000 - $dUs), " +
          s"fw AS (SELECT (MAX(ts_us) // 1000) * 1000 - $dUs AS wm FROM e), " +
          "agg AS (SELECT ws_us, k, COUNT(*) AS cnt, " +
          "CAST(SUM(v) AS BIGINT) AS sv FROM kept GROUP BY 1, 2) " +
          s"SELECT make_timestamp(ws_us) AS ws, make_timestamp(ws_us + $wUs) AS we, " +
          s"k, cnt, sv FROM agg, fw WHERE ws_us + $wUs <= fw.wm " +
          "ORDER BY ws, k NULLS FIRST"
        (name, df, sql)
      case 1 => // dropDuplicatesWithinWatermark, same-time duplicates
        val dsec = r.nextInt(31)
        val dUs = dsec * 1000000L
        val nKeys = 3 + r.nextInt(8)
        // One identity per key: fixed (ts, v); occurrences scattered
        // over 1–3 random batches (plus in-batch doubles) so the same
        // key arrives both on time and late across the split.
        // Key event times snap to WHOLE MILLISECONDS: with sub-ms
        // components a key can thread the needle between the lagged
        // late filter and a state expiry (evicted at wm(j), re-arrives
        // with ts_us > wm_us because of its µs tail) and be emitted
        // TWICE — a genuine semantics corner, but one whose output
        // depends on eviction-vs-merge ordering inside a batch. At
        // whole-ms resolution expiry (ts+delay ≤ wm) provably implies
        // late (ts ≤ wm), so every key emits at most once and the
        // DISTINCT oracle is exact. The ms-floor edge itself stays
        // covered by the wagg family's µs-precision rows.
        val idents = (0 until nKeys).map { j =>
          (s"k$j", drawTs(r) / 1000L * 1000L,
            if (r.nextInt(8) == 0) null
            else java.lang.Long.valueOf(r.nextInt(2000001) - 1000000L))
        }
        var id = 0L
        val occ = scala.collection.mutable.Map.empty[Int, Vector[Row]]
          .withDefaultValue(Vector.empty)
        idents.foreach { case (k, ts, v) =>
          val nOcc = 1 + r.nextInt(3)
          (0 until nOcc).foreach { _ =>
            val b = r.nextInt(nBatches)
            val copies = 1 + r.nextInt(2)
            (0 until copies).foreach { _ =>
              id += 1; occ(b) = occ(b) :+ Row(b, id, k, ts, v)
            }
          }
        }
        val batches = (0 until nBatches).map(occ(_).toSeq)
        val in = genStream(spark, dir, seed, batches)
        val name = s"${in.name}_dedup"
        val streamed = spark.readStream.schema(srcSchema)
          .option("maxFilesPerTrigger", "1").parquet(in.srcDir)
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .withWatermark("ts", s"$dsec seconds")
          .dropDuplicatesWithinWatermark("k")
          .select(col("k"), col("ts").cast("timestamp_ntz").as("ts"),
            col("v"))
        val df = runStream(spark, dir, name, streamed).orderBy("k")
        val sql = wmCtes(in.srcDir) +
          "SELECT DISTINCT k, make_timestamp(ts_us) AS ts, v " +
          "FROM e JOIN w USING (batch) " +
          s"WHERE w.pm IS NULL OR e.ts_us > (w.pm // 1000) * 1000 - $dUs " +
          "ORDER BY k"
        (name, df, sql)
    }
  }

  def main(args: Array[String]): Unit =
    Fuzz.drive(args, "streamfuzz", 16, 600)(genCase)
}
