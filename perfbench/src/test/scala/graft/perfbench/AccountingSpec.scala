package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own accounting: the interval union behind
  * `exec.busy_s`, the wall split `driver.self_s + exec.busy_s`, and the
  * listener's counts on small jobs whose shape is known. */
class AccountingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = Session.build(2)

  override def afterAll(): Unit = spark.stop()

  private def traced(body: => Unit): Main.OpRun = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    try Main.timed(spark, "probe", 0, Some(r)) { _ => body; Array.empty }
    finally {
      spark.sparkContext.removeSparkListener(r)
      spark.listenerManager.unregister(r)
    }
  }

  test("interval union counts overlaps once and clips to the window") {
    import Intervals.unionLength
    assert(unionLength(Nil, 0, 100) == 0)
    assert(unionLength(Seq((0L, 10L), (20L, 30L)), 0, 100) == 20)
    assert(unionLength(Seq((0L, 10L), (5L, 15L), (2L, 4L)), 0, 100) == 15)
    assert(unionLength(Seq((0L, 5L), (5L, 10L)), 0, 100) == 10)
    assert(unionLength(Seq((20L, 30L), (0L, 10L)), 0, 100) == 20)
    assert(unionLength(Seq((-50L, 10L), (90L, 200L)), 0, 100) == 20)
    assert(unionLength(Seq((150L, 200L)), 0, 100) == 0)
  }

  test("driver self time plus executor busy time reconciles with wall") {
    val run = traced {
      Thread.sleep(300) // driver-only work: no task runs
      spark.sparkContext.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(200))
    }
    val l = run.layers.get
    val (lo, hi) = run.windowMs
    val busyMs = Intervals.unionLength(l.taskIntervals.toSeq, lo, hi)
    val selfS = run.wallS - busyMs / 1e3
    // two cores, four 200 ms tasks: at least two rounds of tasks
    assert(busyMs >= 400 && busyMs <= hi - lo)
    assert(selfS >= 0.29)
    assert(l.taskMs >= 800)
    assert(math.abs(selfS + busyMs / 1e3 - run.wallS) < 1e-9)
    assert(math.abs((hi - lo) / 1e3 - run.wallS) < 0.01)
  }

  test("listener counts jobs, stages, tasks and shuffle bytes of a tiny job") {
    val run = traced {
      spark.sparkContext.parallelize(1 to 100, 3)
        .map(x => (x % 5, x)).reduceByKey(_ + _, 2).collect()
    }
    val l = run.layers.get
    assert((l.jobs, l.stages, l.tasks, l.singleTaskStages) == (1L, 2L, 5L, 0L))
    assert(l.shuffleWriteB > 0 && l.shuffleReadB == l.shuffleWriteB)
    assert(l.taskIntervals.size == 5)
  }

  test("query-execution events give the final plan shape") {
    val run = traced {
      spark.range(0, 1000, 1, 3).repartition(2, col("id"))
        .orderBy(col("id").desc).collect()
    }
    val l = run.layers.get
    assert(l.executions == 1)
    assert(l.exchanges == 2 && l.sorts == 1 && l.windows == 0)
    assert(l.jobs >= 1 && l.tasks >= l.stages)
  }

  test("block updates track the bytes of a checkpointed frame") {
    val run = traced {
      spark.range(0, 100000, 1, 2).selectExpr("id", "id * 2 AS x")
        .localCheckpoint()
    }
    val l = run.layers.get
    assert(l.storagePeakB > 0)
    assert(l.storageEndB <= l.storagePeakB)
  }
}
