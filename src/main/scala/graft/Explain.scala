package graft
/** Plan inspector: prints the formatted physical plan (and optionally
  * runs) any declared query — the iterate-on-the-plan loop from the
  * project brief without touching Verify/Bench.
  *
  * Usage: runMain graft.Explain <sfDir> <query> [run]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local(GraftSession.cpus())
    args.drop(1).filterNot(_ == "run").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"==== $name ====")
      df.explain("formatted")
      if (args.contains("run")) {
        val t0 = System.nanoTime()
        val n = df.count()
        println(f"[explain] $name: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
