package graft.tools

import graft.{Bench, GraftSession, QueryProfile}

/** Repeat-bench for single queries, measured exactly as Bench measures
  * them: the warmup and every rep are one [[Bench.retime]] (drop every
  * cached block, `System.gc()`, time the query into the noop sink), and
  * each prints its wall time and [[QueryProfile]]. A closing line per
  * query gives min/median over the reps — min is the contention-robust
  * statistic on a noisy host, median shows spread.
  * Run: sbt "runMain graft.tools.BenchOne <sfDir> <reps> <query> [query ...]"
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val names = args.drop(2).toSeq
    require(names.nonEmpty, "usage: BenchOne <sfDir> <reps> <query> [query ...]")
    val spark = GraftSession.build("graft-bench-one")
    names.foreach { name =>
      def rep(label: String): Double = {
        val (t, profile) = Bench.retime(spark, sfDir, name)
        println(f"$name%-28s $label%-6s ${t}%.3fs ${QueryProfile.json(profile)}")
        t
      }
      rep("warmup")
      val times = (1 to reps).map(i => rep(s"rep$i")).sorted
      println(f"$name%-28s min=${times.head}%.3f median=${times(times.size / 2)}%.3f reps=$reps")
    }
    spark.stop()
  }
}
