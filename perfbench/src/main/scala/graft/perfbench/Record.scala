package graft.perfbench

import java.nio.file.{Files, Paths}

/** Writes the recorded values of a range of seeds, the lines of
  * `perfbench/recorded.tsv`: for each seed, the workload's set-up (seeded
  * inputs and the checked warm-up operation) in one shared Spark session,
  * then the warm-up's values as tab-separated `workload seed key value`.
  *
  * {{{
  * Record --workload curate --seeds 0-63 --work DIR >> perfbench/recorded.tsv
  * }}}
  */
object Record {

  def main(argv: Array[String]): Unit = {
    val req = Main.options(argv)
    val workload = Main.workloadNamed(req("workload"))
    val Array(from, to) = req("seeds").split("-").map(_.toLong)
    val work = Paths.get(req("work")).toAbsolutePath.toString
    val spark = Main.session(work)
    try for (seed <- from to to) {
      val dir = s"$work/record-${workload.name}-$seed"
      Workload.deleteDir(dir)
      Files.createDirectories(Paths.get(dir))
      try {
        val values = workload.prepare(spark, seed, dir).warmUp()
        values.sortBy(_._1).foreach { case (k, v) =>
          val shown = if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
          println(s"${workload.name}\t$seed\t$k\t$shown")
        }
        System.out.flush()
      } finally Workload.deleteDir(dir)
    } finally Main.stop(spark)
  }
}
