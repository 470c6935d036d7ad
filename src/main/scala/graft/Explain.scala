package graft
import org.apache.spark.sql.SparkSession

/** Plan inspector: `runMain graft.Explain <sfDir> <query> [query...]`
  * prints the formatted physical plan of each named query and the wall
  * time of running all of it to a no-op sink — the feedback loop for
  * shuffle/broadcast/pushdown review.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    args.tail.foreach { name =>
      // per-query cache isolation, matching the Bench/Verify protocol
      // (builders may cache shared intermediates — SparkEntry scaladoc)
      spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"===== $name =====")
      df.explain("formatted")
      // the noop sink runs the whole printed plan; count() would let
      // Catalyst prune it to the row count
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
