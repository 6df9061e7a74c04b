package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1): isolates one or more
  * declared queries under the SAME session config as [[Bench]] and reports,
  * per query: cold + warm wall times, Spark job/stage/task counts, shuffle
  * read/write bytes, and (optionally) writes `.explain("formatted")` to a
  * file. Not part of the bench contract — a lab instrument only.
  *
  * Usage:
  *   sbt "runMain graft.Prof <sfDir> <runs> [planOutDir] <query...>"
  */
object Prof {

  private final class Tally extends ShuffleTally {
    val tasks = new AtomicInteger(0)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      super.onTaskEnd(t)
      tasks.incrementAndGet()
    }
    private val trace = sys.env.contains("SPARK_GRAFT_PROF_JOBS")
    private val lastEnd = new AtomicLong(0L)
    private val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (trace) {
        val now = System.nanoTime()
        starts.put(j.jobId, now)
        val gap = (now - lastEnd.get()) / 1e6
        if (lastEnd.get() > 0 && gap > 1)
          println(f"[jobs]   gap ${gap}%.0f ms before job ${j.jobId}%d " +
            s"(${j.stageInfos.map(_.name.takeWhile(_ != '\n')).headOption.getOrElse("")})")
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (trace) {
      val now = System.nanoTime()
      lastEnd.set(now)
      val s = starts.remove(e.jobId)
      println(f"[jobs] job ${e.jobId}%d took ${(now - s) / 1e6}%.0f ms")
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    def snap(): (Long, Long, Int, Int, Int) =
      (read.get(), write.get(), tasks.get(), jobs.get(), stages.get())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = args(1).toInt
    val (planDir, names) =
      if (args.length > 2 && !SparkEntry.queries.contains(args(2)))
        (Some(args(2)), args.drop(3).toSeq)
      else (None, args.drop(2).toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)
    val all = if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else names
    all.foreach { name =>
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"prof:$name")
      val times = (0 until runs).map { i =>
        val s0 = tally.snap()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        // force analysis + optimization + physical planning (driver-side)
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        val t = (t3 - t0) / 1e9
        // drain listener bus (bounded poll, same approach as Bench)
        var prev = tally.snap(); var stable = 0; var waited = 0
        while (stable < 2 && waited < 2000) {
          Thread.sleep(50); waited += 50
          val cur = tally.snap()
          if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        }
        val s1 = tally.snap()
        println(f"[prof] $name run$i: $t%.3f s " +
          f"(build=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f " +
          f"exec=${(t3 - t2) / 1e9}%.3f)  " +
          f"sr=${s1._1 - s0._1}%d sw=${s1._2 - s0._2}%d " +
          f"tasks=${s1._3 - s0._3}%d jobs=${s1._4 - s0._4}%d " +
          f"stages=${s1._5 - s0._5}%d")
        t
      }
      println(f"[prof] $name min=${times.min}%.3f s of $runs runs")
      planDir.foreach { dir =>
        new java.io.File(dir).mkdirs()
        val df = fn(spark, sfDir)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
            .getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
