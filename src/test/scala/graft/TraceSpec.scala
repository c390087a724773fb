package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Trace]] reads right after an action returns: the task-end events
  * of the action's last stage are still on the asynchronous listener
  * bus then, so every read must drain the bus before it looks. */
class TraceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def traced[T](f: Trace => T): T = {
    val sc = spark.sparkContext
    val t = new Trace(sc)
    sc.addSparkListener(t)
    try f(t)
    finally sc.removeSparkListener(t)
  }

  /** One stage of `tasks` tasks; task 0 sleeps `sleepMs`. */
  private def stage(tasks: Int, sleepMs: Long): Unit =
    spark.sparkContext.parallelize(0 until tasks, tasks)
      .foreach(i => if (i == 0) Thread.sleep(sleepMs))

  test("worst: an 8-task stage with one 300 ms straggler, read right " +
      "after the action returns") {
    traced { t =>
      t.reset()
      stage(8, 300)
      val w = t.worst()
      assert(w.isDefined, "the straggler stage must be seen")
      val (mx, _, ratio) = w.get
      assert(mx >= 300, s"max task $mx ms")
      assert(ratio > 1.0, s"ratio $ratio")
      assert(t.skew().startsWith(" max_task="), t.skew())
    }
  }

  test("worst: fewer than 8 tasks, or no task reaching 200 ms, " +
      "qualifies no stage") {
    traced { t =>
      t.reset()
      stage(7, 300)
      assert(t.worst() === None)
      t.reset()
      stage(8, 0)
      assert(t.worst() === None)
      assert(t.skew() === " (no >=8-task stage reached 200 ms)")
    }
  }

  test("reset clears the stage and job records") {
    traced { t =>
      stage(8, 300)
      assert(t.worst().isDefined)
      t.reset()
      assert(t.worst() === None)
      assert(t.report().linesIterator.next()
        .endsWith("across 0 stages, 0 jobs (summed job wall 0.00 s)"))
    }
  }

  test("report: the stage lines' task counts sum to the tasks the job ran") {
    traced { t =>
      t.reset()
      // 8 map tasks feeding 3 reduce tasks
      spark.sparkContext.parallelize(1 to 100, 8)
        .map(x => (x % 3, x)).reduceByKey(_ + _, 3).count()
      val stageLines = t.report().linesIterator
        .filter(_.startsWith("[stage")).toSeq
      val tasks = stageLines.map(l =>
        """ n=\s*(\d+) """.r.findFirstMatchIn(l).get.group(1).toInt)
      assert(stageLines.size === 2)
      assert(tasks.sum === 11)
    }
  }
}
