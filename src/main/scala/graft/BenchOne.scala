package graft

/** Single-query timing harness for plan/storage iteration:
  * `SPARK_GRAFT_SF_DIR=… runMain graft.BenchOne q_dedup_near [q_x …]`.
  * Warms each query at sf0.001 (codegen/JIT), then times two runs at the
  * configured sfDir — the same protocol as [[Bench]] without paying for
  * the other 80+ queries.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    args.foreach { name =>
      val q = Registry.all(name)
      try q.fn(spark, "/root/testdata/sf0.001").count()
      catch { case e: Throwable =>
        System.err.println(s"[benchone] warmup $name failed: ${e.getMessage}")
      }
      (0 until 2).foreach { i =>
        val t0 = System.nanoTime()
        val df = q.fn(spark, sfDir)
        val n = df.count()
        println(f"[benchone] $name run$i ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
        // post-execution adaptive plan: shows AQE's runtime stage reuse
        // (ReusedExchange/ReusedQueryStage) that the static plan cannot
        if (i == 0 && sys.env.contains("SPARK_GRAFT_FINAL_PLAN"))
          println(s"[benchone-plan] ${df.queryExecution.executedPlan.toString}")
      }
    }
    spark.stop()
  }
}
