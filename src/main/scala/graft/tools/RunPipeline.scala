package graft.tools


import graft.etl.Pipeline

/** CLI entry for the full ETL run (the `python etl.py` analog,
  * ref: data/etl.py:425-457): clean → summaries → sinks.
  *
  * Usage: runMain graft.tools.RunPipeline <sfDir> <outDir> [formats]
  * e.g.   runMain graft.tools.RunPipeline /root/testdata/sf0.001 /tmp/out csv,parquet
  * Without `formats` the run writes [[Pipeline.run]]'s default sinks
  * (the reference's csv/parquet/sqlite, etl.py:367).
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunPipeline <sfDir> <outDir> [csv,parquet,sqlite]")
    val Array(sfDir, outDir) = args.take(2)
    val formats = args.lift(2).map(_.split(",").toSeq)
    val spark = graft.GraftSession.local(defaultCpus = 4)
    val t0 = System.nanoTime()
    val counts = formats.fold(Pipeline.run(spark, sfDir, outDir))(Pipeline.run(spark, sfDir, outDir, _))
    val secs = (System.nanoTime() - t0) / 1e9
    counts.toSeq.sortBy(_._1).foreach { case (name, n) => println(f"$name%-20s $n%10d rows") }
    println(f"completed in $secs%.1f s -> $outDir (${formats.fold("default sinks")(_.mkString(","))})")
    spark.stop()
  }
}
