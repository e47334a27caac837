package graft

import org.apache.spark.sql.graftshim.Codegen

/** Dev/measurement tool for the optimization rounds (guide §1): for each
  * named catalog query, write `.explain("formatted")` to a file and
  * optionally time one noop-sink run with job/stage/task counts and the
  * classes it compiled (`compiles=`; the warm attempt of a shape the cold
  * attempt already compiled should read 0).
  *
  * Usage:
  *   tools/run.sh graft.ExplainDump <sfDir> <outDir> [prefixes] [--run]
  *
  * Not part of the driver contract; changes nothing about the queries.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val prefixes = args.drop(2).filterNot(_.startsWith("--")).headOption
      .map(_.split(',').toSeq).getOrElse(Seq(""))
    val doRun = args.contains("--run")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    val tc = new TaskCounters
    spark.sparkContext.addSparkListener(tc)

    val sel = SparkEntry.queries.filter { case (n, _) =>
      prefixes.exists(n.startsWith)
    }.toSeq.sortBy(_._1)
    sel.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$name.txt"),
          txt.getBytes("UTF-8"))
        if (doRun) {
          // cold attempt first (codegen/JIT), then the measured warm one —
          // mirrors the bench's min-of-2 methodology
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          tc.reset()
          val c0 = Codegen.compiles()
          val t0 = System.nanoTime()
          val df2 = fn(spark, sfDir)
          val tBuild = System.nanoTime()
          df2.queryExecution.executedPlan // analysis + optimization + physical
          val tPlan = System.nanoTime()
          df2.write.format("noop").mode("overwrite").save()
          val tEnd = System.nanoTime()
          val compiles = Codegen.compiles() - c0
          val cpu = tc.quietCpuNs() / 1e9 // async listener events drained
          println(f"[probe] $name%-32s wall=${(tEnd - t0) / 1e9}%7.3f cpu=$cpu%7.3f " +
            f"build=${(tBuild - t0) / 1e9}%6.3f plan=${(tPlan - tBuild) / 1e9}%6.3f " +
            f"exec=${(tEnd - tPlan) / 1e9}%6.3f " +
            f"jobs=${tc.jobs.get}%3d tasks=${tc.tasks.get}%5d maxTask=${tc.maxTaskMs.get}%6dms " +
            f"compiles=$compiles%d")
        } else println(s"[probe] $name explained")
      } catch { case e: Throwable =>
        println(s"[probe] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
