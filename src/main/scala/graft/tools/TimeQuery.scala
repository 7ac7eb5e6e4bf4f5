package graft.tools

import graft.GraftSession

/** Time catalog queries repeatedly: `runMain graft.tools.TimeQuery
  * <name>[,<name>...] [sfDir] [reps]`. Uses the noop sink like
  * graft.Bench so the full physical plan runs; prints per-rep seconds
  * for variance-aware profiling (Bench only gives one sample per
  * round). A comma-separated list shares one warm JVM across queries. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: runMain graft.tools.TimeQuery <name>[,<name>...] [sfDir] [reps]")
      System.err.println("known queries: " + graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val names = args(0).split(",").toSeq
    val unknownNames = names.filterNot(graft.SparkEntry.queries.contains)
    if (unknownNames.nonEmpty) {
      System.err.println("unknown queries: " + unknownNames.mkString(", "))
      System.err.println("known queries: " + graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local()
    names.foreach { name =>
      for (r <- 1 to reps) {
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"[time] $name rep $r: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        // untimed, as in graft.Bench: each rep starts from the same heap
        graft.operators.Materialize.release(spark)
      }
    }
    spark.stop()
  }
}
