package graft

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Profiling harness: runs selected queries (args, default the headline
  * set) and prints wall-clock alongside scheduler-level counters — jobs,
  * stages, tasks and summed task time. A query whose wall-clock is large
  * but whose task time is small is paying scheduling / job-launch
  * overhead (many tiny jobs), not compute; the fix is fewer jobs or fewer
  * partitions, not faster expressions.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.create(s"local[$cpus]", cores = cpus)

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) taskMs += t.taskInfo.duration
    }
    spark.sparkContext.addSparkListener(listener)

    spark.range(1L << 20).selectExpr("sum(id)").collect()
    Tables.all.foreach(t => Tables(spark, sfDir, t).limit(1).count())

    // ablation suffixes -> the conf override each applies; suffixes are
    // parsed in a LOOP so they combine (`q!noaqe!spcores`), and each
    // override SAVES the session's prior value (set or unset) and
    // restores exactly that — a hard-coded restore would clobber
    // whatever the session had before profiling
    def overrideOf(suffix: String): Option[Seq[(String, String)]] = suffix match {
      case "noaqe" => Some(Seq("spark.sql.adaptive.enabled" -> "false"))
      case "nowsc" => Some(Seq("spark.sql.codegen.wholeStage" -> "false"))
      case "spcores" => Some(Seq("spark.graft.stream.statePartitions" ->
        spark.sparkContext.defaultParallelism.toString))
      case _ => None
    }
    val names = if (args.nonEmpty) args.toSeq else Queries.headline
    val rows = mutable.ArrayBuffer.empty[(String, Double, Int, Int, Int, Double)]
    names.foreach { rawName =>
      // deterministic drain: all queued listener events from the previous
      // query are delivered before this query's counters reset
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext, 10000)
      var name = rawName
      var overrides = List.empty[(String, String)]
      var more = true
      while (more) {
        val cut = name.lastIndexOf('!')
        val ov = if (cut < 0) None else overrideOf(name.substring(cut + 1))
        ov match {
          case Some(kvs) =>
            overrides :::= kvs.toList; name = name.substring(0, cut)
          case None => more = false
        }
      }
      val saved = overrides.map { case (k, v) =>
        val prev = spark.conf.getOption(k)
        spark.conf.set(k, v)
        k -> prev
      }
      jobs = 0; stages = 0; tasks = 0; taskMs = 0L
      val t0 = System.nanoTime()
      try Queries.all(name)(spark, sfDir).queryExecution.toRdd.count()
      // reverse: a key overridden twice must end at its FIRST saved value
      finally saved.reverse.foreach {
        case (k, Some(prev)) => spark.conf.set(k, prev)
        case (k, None) => spark.conf.unset(k)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext, 10000)
      rows += ((name, wall, jobs, stages, tasks, taskMs / 1e3))
    }
    println(f"${"query"}%-28s ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"task_s"}%8s")
    rows.foreach { case (n, w, j, st, t, tm) =>
      println(f"$n%-28s $w%8.2f $j%5d $st%7d $t%6d $tm%8.1f")
    }
    println(f"TOTAL wall ${rows.map(_._2).sum}%.2f s")
    spark.stop()
  }
}
