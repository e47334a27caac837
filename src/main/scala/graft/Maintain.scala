package graft

import graft.ingest.{MetricsPreAgg, Segments}

/** Operator-facing maintenance CLI — the role of the reference's sweeper
  * and rollup jobs (cmd/sweeper/expiry.go, the boxer rollup commands):
  * run one maintenance action against a segment store and exit. Each
  * action is the SAME library call the in-process paths use, so a
  * deployment can schedule these as cron/k8s jobs against a store other
  * processes are actively serving. ConcurrencySpec launches this main in
  * a second JVM for `compact-metrics` only, which exercises the
  * cross-process swap contract (staged-swap recovery on the reader side,
  * watermark sidecars carried across the swap); `rollup` runs the
  * in-process rebuild ([[MetricsPreAgg.maintainRollupsBatch]]), whose
  * whole-(tier, day) rewrites no second-JVM test covers.
  *
  * Usage:
  *   graft.Maintain compact-metrics <dir> [maxRecordsPerFile]
  *   graft.Maintain compact-logs    <dir> [maxRecordsPerFile]
  *   graft.Maintain compact-spans   <dir> [maxRecordsPerFile]
  *   graft.Maintain rollup          <dir> [tierMs,tierMs,...] [sinceDateint]
  *   graft.Maintain expire          <dir> <cutoffDateint>
  */
object Maintain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Maintain <action> <dir> [args]")
    val action = args(0)
    val dir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .appName(s"graft-maintain-$action").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      action match {
        case "compact-metrics" =>
          Segments.compactMetricSegments(spark, dir,
            args.lift(2).map(_.toLong).getOrElse(2000000L))
          println(s"[maintain] compacted metric segments at $dir")
        case "compact-logs" =>
          Segments.compactLogSegments(spark, dir,
            args.lift(2).map(_.toLong).getOrElse(2000000L))
          println(s"[maintain] compacted log segments at $dir")
        case "compact-spans" =>
          Segments.compactSpanSegments(spark, dir,
            args.lift(2).map(_.toLong).getOrElse(2000000L))
          println(s"[maintain] compacted span segments at $dir")
        case "rollup" =>
          val tiers = args.lift(2)
            .map(_.split(',').toSeq.map(_.trim.toLong))
            .getOrElse(Seq(60000L, 300000L, 1200000L, 3600000L))
          val since = args.lift(3).map(_.toInt)
          MetricsPreAgg.maintainRollupsBatch(spark, dir, rollupTiers = tiers,
            sinceDateint = since)
          println(s"[maintain] rolled up $dir tiers=${tiers.mkString(",")}" +
            since.fold("")(d => s" since=$d"))
        case "expire" =>
          val n = Segments.expireSegments(spark, dir, args(2).toInt)
          println(s"[maintain] expired $n partitions at $dir")
        case other =>
          throw new IllegalArgumentException(s"unknown action: $other")
      }
    } finally spark.stop()
  }
}
