package graft.tools

/** One-off measurement aid for the PQ shortlist dial: prints, per
  * query, the ADC rank of the EXACT top-1 neighbor — i.e. the
  * shortlist size that would have been needed for perfect recall at
  * that corpus scale. Justifies PqShortlist the way the r4 IVF
  * k × init sweep justifies the k-means parameters. */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Bench.session("32")
    spark.sparkContext.setLogLevel("ERROR")
    graft.llm.Ann.pqAdcRanks(spark, sfDir).show(50, truncate = false)
    spark.stop()
  }
}
