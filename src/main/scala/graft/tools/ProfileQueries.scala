package graft.tools

import graft.Harness

/** Dev profiler: median-of-3 wall time for named SparkEntry queries,
  * plus each query's stage count, single-task stage count (run 3) and
  * every stage above [[SlowStageS]] wall — tasks=1 with a big wall is
  * a serialization point; cpuMs far below wall × cores is an idle one.
  * Usage: runMain graft.tools.ProfileQueries <sfDir> <name1,name2,...>
  */
object ProfileQueries {
  private val SlowStageS = 0.3

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq)
    val spark = Harness.session()
    val log = new Harness.StageLog(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val runs = (1 to 3).map(_ => log.run(Harness.timed(spark)(fn(spark, dir).count())._2))
      val ts = runs.map(_._1)
      val last = runs.last._2
      println(f"$name%-24s median=${ts.sorted.apply(1)}%6.2f s  runs=${ts.map(t => f"$t%.2f").mkString(",")}" +
        s"  stages=${last.size} 1-task=${last.count(_.tasks == 1)}")
      for (((_, stages), i) <- runs.zipWithIndex; s <- stages if s.wallS > SlowStageS)
        println(f"  [run ${i + 1} stage ${s.id}%4d] tasks=${s.tasks}%4d " +
          f"wall=${s.wallS}%6.2f s  cpuMs=${s.cpuMs}%8d  ${s.name.take(120)}")
    }
    spark.stop()
  }
}
