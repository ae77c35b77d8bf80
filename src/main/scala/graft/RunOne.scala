package graft

/** Developer tool: run one registered query N times and print row counts or
  * full stack traces — for chasing intermittent failures under a given
  * parallelism. Usage: runMain graft.RunOne <sfDir> <query> [reps]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus)
    (1 to reps).foreach { i =>
      try {
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[runone] $name rep $i OK rows=$n ($secs%.2f s)")
      } catch {
        case e: Throwable =>
          println(s"[runone] $name rep $i FAILED")
          e.printStackTrace(System.out)
      } finally graft.ops.Caches.releaseAll()
    }
    spark.stop()
  }
}
